package graft.queries

import graft.NamedQuery
import org.apache.spark.sql.functions._

/** Fuzzy-dedup pack: MinHash+LSH, SimHash and connected components over
  * `documents`.
  *
  * These are the 100 TB-scale near-dup paths: d2 (TextOps) computes exact
  * shingle Jaccard via a shingle join — correct but O(pairs-sharing-a-
  * shingle); MinHash banding bounds the candidate set (only docs colliding
  * in ≥1 of 4 bands are compared), and SimHash reduces each doc to one
  * 60-bit fingerprint compared by hamming distance.  All hashing runs
  * through mod-prime universal families over [[graft.functions.CharFold]]
  * (every intermediate < 2^63), so BOTH pipelines replay exactly in
  * DuckDB and carry full value oracles; the banding guarantees are
  * additionally spec-pinned (d3: exact-Jaccard recall vs d2; d4:
  * brute-force hamming≤4 completeness).
  */
object Dedup {

  /** The MinHash/LSH hash family — defined ONCE in
    * [[graft.functions.MinHashFamily]] (this aggregate pipeline, the
    * inlined oracle literals, and the native scan-side kernel
    * `graft_band_values` all read the same derivation): Carter–Wegman
    * `h_i = (a_i·h0 + b_i) mod p` over the mod-prime base hash, every
    * intermediate int64-safe, so the WHOLE pipeline — base fold, 16
    * min-hashes, band combination — replays exactly in DuckDB (which
    * promoted d3 from a rows-only check to a full value oracle; the
    * round-2 xxhash64 form was JVM-only). */
  private val family = graft.functions.MinHashFamily
  private val NumHashes = family.NumHashes
  private val Bands = family.Bands
  private val RowsPerBand = family.RowsPerBand
  private def mix64(x: Long): Long = family.mix64(x)
  private val P = family.P
  private val hashA: Seq[Long] = family.hashA
  private val hashB: Seq[Long] = family.hashB
  private val bandC: Seq[Seq[Long]] = family.bandC

  /** MinHash signatures: per doc, 16 universal-family min-hashes of its
    * distinct word-trigram shingles. */
  private def signatures(sh: org.apache.spark.sql.DataFrame) = {
    val aggs = count(lit(1)).as("n_sh") +:
      (0 until NumHashes).map(i =>
        min((col("h0") * hashA(i) + hashB(i)) % P).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The banding stage over a signature relation: one posexplode over
    * the per-band linear combinations — NOT a Bands-way union, which
    * would recompute the signature aggregation once per band.  Shared by
    * [[bandedJaccardPairs]] and the T14 parity ground truth. */
  private def signatureBands(sig: org.apache.spark.sql.DataFrame) = {
    val bandArr = array((0 until Bands).map { b =>
      (0 until RowsPerBand)
        .map(r => col(s"h${b * RowsPerBand + r}") * bandC(b)(r))
        .reduce(_ + _) % P
    }: _*)
    sig.select(col("doc_id"), col("n_sh"), posexplode(bandArr).as(Seq("band", "bv")))
  }

  /** (doc_id, n_sh, band, bv) LSH band keys of every document — d3's
    * banding stage as a standalone relation (the T14 live candidate
    * detector's batch ground truth). */
  def bandKeys(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    val sh = TextOps.shingles(s, dir)
      .select(col("doc_id"), col("shingle"))
      .withColumn("h0", call_function("graft_charfold", col("shingle")))
    signatureBands(signatures(sh))
  }

  /** The SAME band values as a scalar expression over a text column —
    * no aggregation, so a STREAM can compute them scan-side
    * (`stream/LiveNearDup`): distinct word-trigram shingles via array
    * ops, then ALL band values in one pass over the shingle array
    * through the native `graft_band_values` kernel (one base-hash fold
    * per shingle feeding all 16 min-hash lanes).  Provably identical to
    * the aggregate path ([[bandKeys]]) — min over the same distinct set
    * — pinned by LiveNearDupParitySpec, and kernel ≡ the unrolled
    * 16-lane Column form by BandValuesSpec.  Returns array<bigint> of
    * the `Bands` band values; null/short texts (< 3 tokens) yield an
    * empty array (no shingles → no bands, matching the batch filter).
    * Callers must have registered `graft_band_values`
    * (GraftFunctions.register does). */
  def bandValuesFor(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // tokenization and shingling come from TextOps' single definitions —
    // the live≡batch band parity depends on byte-identical expressions,
    // so neither is restated here.  The banding itself runs through the
    // native one-pass kernel (graft_band_values): the unrolled Column
    // form folded the charfold base hash once PER LANE — 16× the
    // hashing — because Catalyst cannot CSE across distinct lambda
    // bodies; BandValuesSpec pins kernel ≡ that unrolled form.
    val w = TextOps.tokens(text)
    val shingleArr = TextOps.shingleArrayOf(w)
    when(text.isNotNull && text =!= "" && size(w) >= 3,
      call_function("graft_band_values", shingleArr))
      .otherwise(array().cast("array<bigint>"))
  }

  /** The distinct word-trigram shingle SET of a text column as scalar
    * array arithmetic — the VERIFY-side companion of [[bandValuesFor]]
    * (same single-definition discipline: tokenization and shingling come
    * from TextOps', so the live verify can never disagree with the batch
    * tier on what a shingle is).  Null/short texts (< 3 tokens) yield an
    * empty array, matching the batch filter. */
  def shingleSetFor(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = TextOps.tokens(text)
    when(text.isNotNull && text =!= "" && size(w) >= 3, TextOps.shingleArrayOf(w))
      .otherwise(array().cast("array<string>"))
  }

  /** The SORTED distinct shingle-HASH set of a text column — the lean
    * verify-side state of the live near-dup tier
    * ([[graft.stream.LiveNearDup.verifiedPairsHashed]]): the same
    * mod-prime charfold base hash the banding kernel folds (h0), over
    * the same single-definition shingle array, distinct then sorted so
    * the stream's verify is a LINEAR merge-intersection of two sorted
    * int64 arrays instead of a string-set probe.  Exact-Jaccard parity
    * with the string tier holds up to h0 collisions within one compared
    * pair's union (p ≈ 10⁹: ~|A|·|B|/p per pair — ~10⁻⁵ at
    * hundred-shingle docs, and a collision can only NUDGE one pair's
    * jaccard, never invent a candidate, since banding is upstream). */
  def shingleHashSetFor(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = TextOps.tokens(text)
    when(text.isNotNull && text =!= "" && size(w) >= 3,
      array_sort(array_distinct(transform(TextOps.shingleArrayOf(w),
        s => call_function("graft_charfold", s)))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** BOTH live near-dup scan-side relations in ONE kernel pass — the
    * struct `(bands, hashes)` of [[bandValuesFor]] and
    * [[shingleHashSetFor]], computed by the native `graft_band_hashes`
    * expression without materializing trigram strings (the T14 hot path;
    * BandHashesSpec pins kernel ≡ both Column forms).  Null/short texts
    * yield empty arrays in both fields. */
  def bandHashesFor(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = TextOps.tokens(text)
    val empty = struct(
      array().cast("array<bigint>").as("bands"),
      array().cast("array<bigint>").as("hashes"))
    when(text.isNotNull && text =!= "" && size(w) >= 3,
      call_function("graft_band_hashes", w))
      .otherwise(empty)
  }

  /** The identical signature pipeline as DuckDB SQL (constants inlined —
    * the s2-planes technique): h0 fold over shingle chars, 16 min-hashes,
    * per-band linear combination. */
  private def d3OracleSql: String = {
    val h0 = """list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(
           range(1, length(shingle) + 1),
           i -> CAST(ascii(substr(shingle, CAST(i AS INT), 1)) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007)"""
    val mins = (0 until NumHashes).map(i =>
      s"min((${hashA(i)} * h0 + ${hashB(i)}) % $P) AS h$i").mkString(",\n          ")
    val bandSelects = (0 until Bands).map { b =>
      val expr = (0 until RowsPerBand).map(r =>
        s"${bandC(b)(r)} * h${b * RowsPerBand + r}").mkString("(", " + ", s") % $P")
      s"SELECT doc_id, n_sh, $b AS band, $expr AS bv FROM sig"
    }.mkString("\n        UNION ALL ")
    s"""WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM tok WHERE len(w) >= 3),
      h AS (SELECT doc_id, $h0 AS h0 FROM sh),
      sig AS (
        SELECT doc_id, count(*) AS n_sh,
          $mins
        FROM h GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
          l.n_sh AS sa, r.n_sh AS sb
        FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
        WHERE l.doc_id < r.doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, c.sa, c.sb, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b, c.sa, c.sb)
      SELECT doc_a, doc_b,
        round(CAST(n_inter AS DOUBLE) / (sa + sb - n_inter), 4) AS jaccard
      FROM inter
      WHERE round(CAST(n_inter AS DOUBLE) / (sa + sb - n_inter), 4) >= 0.5
      ORDER BY doc_a, doc_b"""
  }

  // ---------------------------------------------------------------- d3
  /** The banded MinHash near-dup pipeline — d3's body and (under
    * `spark.graft.dedup.pairs=banded`) the dedup tier's pair source:
    * 16 min-hashes → 4×4 banding → equi-join candidates → exact shingle
    * Jaccard verify at ≥ 0.5.  Sub-quadratic where the exact tier's
    * candidate step is the scale risk: candidates come from band-bucket
    * collisions, not from shingle co-occurrence, so the frequent-shingle
    * blowup never happens.  Because the verify step recomputes EXACT
    * Jaccard on every candidate, precision is exact; only recall can
    * drop (borderline pairs missing from every band) — which is
    * precisely what the d13 audit measures before a deployment flips
    * the tier over. */
  def bandedJaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String,
      docs0: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    // r18: band values come scan-side from the native one-pass
    // `graft_band_values` kernel over the per-doc distinct shingle ARRAY
    // — the exact relation the streaming twin computes, spec-pinned
    // identical to the aggregate path (BandValuesSpec kernel ≡ unrolled
    // lanes; LiveNearDupParitySpec scalar ≡ aggregate [[bandKeys]]).
    // The old path exploded the corpus into ~10× shingle rows, persisted
    // them, and re-aggregated per doc (16 min-hash lanes through one
    // full-corpus groupBy exchange) to recover per-doc state the scan
    // already had — guide §2.4: the exchange finished a computation that
    // was complete map-side.  The verify below likewise reads the
    // per-doc arrays directly (one narrow join per pair side) instead of
    // re-joining candidate-expanded shingle rows through two exchanges
    // and a count aggregate — guide §2.3/§8: ship the per-doc array
    // once, never the exploded rows.  A caller-supplied `docs0` (already
    // persisted — d13's audit-shared relation) is read as-is, so the
    // audit tokenizes the corpus ONCE for both sides.
    val docs = docs0.getOrElse(constructionPersist(s, docShingleArrays(s, dir)))
    // banding: 4 bands of 4 rows; docs colliding in any band are
    // candidates.  The band relation feeds both join sides, so it
    // persists — the banding kernel runs once per doc, not once per side.
    val bands = constructionPersist(s, docs.select(col("doc_id"), col("n_sh"),
      posexplode(call_function("graft_band_values", col("sharr")))
        .as(Seq("band", "bv"))))
    // HOT-BUCKET GUARD — the streaming twin's discipline
    // (stream/LiveNearDup.scala maxBucket) applied to the batch join:
    // the self-join below emits k² candidate pairs for a bucket of
    // occupancy k, and one boilerplate bucket (a disclaimer, a template
    // page) at 100 TB is an ALGORITHMIC explosion AQE's skew splitting
    // cannot cap — it rebalances the shuffle, not the pair count.
    // Rather than silently attempting the expansion, the LEFT join side
    // carries a per-bucket occupancy column (a whole-partition window
    // count on the join key — its exchange is the very (band, bv)
    // layout the join wants anyway) and a per-row assert_true that
    // fails LOUDLY above `spark.graft.dedup.maxBucket` (default 100000,
    // the streaming cap), NAMING the offending bucket and its occupancy
    // so the operator can raise the cap or pre-split the boilerplate
    // upstream.  Loud-above-cap (never truncate-above-cap) means the
    // pair relation is COMPLETE whenever the query returns at all —
    // truncation can never read as "covered".
    //
    // Deliberately NOT the CC guard's broadcast-1-row join wiring: this
    // relation sits BELOW the dedup tier's lineage cuts, and an
    // explicit broadcast() inside a cut subplan submits its relation
    // future while the cut RDD is being BUILT — a job at construction,
    // which this library bans (withLineageCutConfs suppresses only AUTO
    // broadcasts, not hints).  The window+filter form is pure
    // exchanges: nothing executes until the first action.  assert_true
    // is non-foldable and the filter tests its (null) result, so the
    // guard survives column pruning; empty corpora pass vacuously (no
    // rows, no asserts); guarding one side suffices because every
    // bucket appears on both.
    val maxBucket = maxBucketConf(s)
    val wOcc = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bv"))
    val left = bands
      .withColumn("occ", count(lit(1)).over(wOcc))
      .filter(assert_true(col("occ") <= maxBucket,
        concat(lit("graft: banded dedup hot bucket: band "), col("band"),
          lit(" bucket "), col("bv"),
          lit(" has occupancy "), col("occ"),
          lit(" > spark.graft.dedup.maxBucket=" + maxBucket +
            " — the k^2 candidate expansion would dominate the join; " +
            "raise the cap or pre-split the boilerplate bucket"))).isNull)
      .select(col("band"), col("bv"), col("doc_id").as("doc_a"), col("n_sh").as("sa"))
    val right = bands.select(col("band"), col("bv"), col("doc_id").as("doc_b"), col("n_sh").as("sb"))
    val cand = left.join(right, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .distinct()
    verifyExactJaccard(cand, docs).select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** `spark.graft.dedup.maxBucket`, the hot-bucket cap the banded join
    * bakes into its plan (default 100000, the streaming cap). */
  private def maxBucketConf(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("spark.graft.dedup.maxBucket").map(_.toLong).getOrElse(100000L)

  /** The shaping values of a pair relation built from `source` over
    * `dir`: the corpus's file stamp (a rewritten `documents.parquet` is
    * a miss, not a stale graph), the source, and for the banded plan the
    * hot-bucket cap it bakes in. */
  private def pairShaping(s: org.apache.spark.sql.SparkSession, dir: String,
      source: String): Seq[Any] =
    graft.tables.Tables.fileStamp(s, dir, "documents") +:
      (if (source == "banded") Seq(source, maxBucketConf(s)) else Seq(source))

  /** The `dupPairs` derivation for `source` (the registry entry d13's
    * sides share with the graph): the pair relation `build` returns,
    * persisted once per key. */
  private def pairDerivation(s: org.apache.spark.sql.SparkSession, dir: String,
      source: String)(build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Derivations.memo(s, dir, "dupPairs", pairShaping(s, dir, source): _*)(
      constructionPersist(s, build.select(col("doc_a"), col("doc_b"))))

  /** The dup graph is always a shared derivation; `false` (the per-query
    * rebuild) is retired. */
  private def rejectUnsharedGraph(s: org.apache.spark.sql.SparkSession): Unit =
    graft.RetiredConf.reject(s, "spark.graft.dupgraph.cache", "true")

  /** A session derivation holding lineage cuts (the dup graph's labels,
    * the BPE trainer) re-checks the retired columnar cut on EVERY ask:
    * a memo hit builds no cut, so [[lineageCut]]'s own check alone would
    * let the retired columnar value pass silently. */
  private[queries] def rejectRetiredCut(s: org.apache.spark.sql.SparkSession): Unit =
    graft.RetiredConf.reject(s, "spark.graft.cut.persist", "rdd")

  /** The per-doc distinct word-trigram shingle ARRAY relation
    * `(doc_id, sharr, n_sh)` — the dedup tier's scan-side base (r18):
    * tokenization and shingling come from TextOps' single definitions
    * (the live≡batch parity discipline), the scan rides the
    * scale-adaptive spread, and NOTHING explodes — banding folds the
    * array through `graft_band_values` and the verify intersects two
    * arrays per candidate pair.  Same doc set as [[TextOps.shingles]]
    * (same null/short-text filters). */
  private[queries] def docShingleArrays(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    graft.tables.Tables.spreadSmallScan(
        graft.tables.Tables.documents(s, dir), col("doc_id"))
      .filter(col("text").isNotNull && col("text") =!= "")
      .withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= 3)
      .withColumn("sharr", TextOps.shingleArrayOf(col("w")))
      .select(col("doc_id"), col("source"), col("sharr"),
        size(col("sharr")).cast("long").as("n_sh"))
  }

  /** The exploded `(doc_id, source, n_sh, shingle)` view of
    * [[docShingleArrays]] — the exact-tier input shape
    * (jaccardPairsPrefixFiltered / shingleJaccardPairs), derived from
    * the SAME persisted array relation an audit's banded side reads so
    * the corpus tokenizes once per audit.  explode_outer, not explode:
    * the round-12 InferFiltersFromGenerate trap (a plain explode over a
    * named array attribute re-inlines the tokenizer into every lambda). */
  private[queries] def explodedShinglesOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_sh"),
      explode_outer(col("sharr")).as("shingle"))

  /** d3's exact-Jaccard VERIFY over a candidate relation
    * `(doc_a, doc_b, sa, sb)` against the per-doc shingle-ARRAY relation
    * `(doc_id, sharr, …)`: two narrow joins attach each side's distinct
    * string array once, `n_inter = |sharr_a ∩ sharr_b|` computes in the
    * projection (exact string-set intersection — identical to the old
    * candidate-scoped shingle-row join + count, which shuffled
    * candidate-expanded rows through two exchanges and an aggregate),
    * round-4 jaccard, ≥ 0.5 filter.  THE single definition of the verify
    * step — shared by [[bandedJaccardPairs]] and the d14 incremental
    * path, so their spec-pinned equivalence ("the incremental path can
    * never disagree with d3") is structural, not copy-discipline.
    * Returns `(doc_a, doc_b, sa, sb, n_inter, jaccard)`. */
  private def verifyExactJaccard(cand: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val arrA = docs.select(col("doc_id").as("doc_a"), col("sharr").as("sharr_a"))
    val arrB = docs.select(col("doc_id").as("doc_b"), col("sharr").as("sharr_b"))
    cand.join(arrA, "doc_a").join(arrB, "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("sharr_a"), col("sharr_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / (col("sa") + col("sb") - col("n_inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"),
        col("n_inter"), col("jaccard"))
  }

  val d3MinHashLsh = NamedQuery(
    "d3_minhash_lsh",
    (s, dir) => bandedJaccardPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
    Some(d3OracleSql),
    doc = "MinHash(16, Carter–Wegman universal family) + LSH(4 bands), " +
      "exact-Jaccard verify ≥0.5; FULL value oracle — the band pipeline " +
      "replays in SQL with inlined constants")

  // ---------------------------------------------------------------- d4
  /** Banded candidate generation à la Manku et al., "Detecting
    * Near-Duplicates for Web Crawling" (WWW 2007, public literature): split
    * the fingerprint into `HamBands` bands; by pigeonhole, any pair
    * with hamming ≤ HamBands−1 matches exactly on ≥1 band, so an equi-join
    * on (band_idx, band_value) finds every such pair without the quadratic
    * all-pairs join — global scope, scales with band-bucket occupancy. */
  private val HamBands = 5          // guarantees recall for hamming ≤ 4
  private val MaxHamming = HamBands - 1
  /** 60 fingerprint bits = 5 exact 12-bit bands; bit j is the majority
    * vote of the j-th one-bit universal hash `((a_j·h0 + b_j) mod p) mod 2`
    * over the doc's tokens.  60 (not 64) keeps `Σ bit·2^j` int64-safe in
    * both engines, which is what lets the WHOLE SimHash pipeline replay in
    * DuckDB — the round-2 String.hashCode/splitmix form was JVM-only, so
    * d4 was a rows-only check; now it carries a full value oracle. */
  private val SimBits = 60
  private val BandWidth = SimBits / HamBands
  private val simA: Seq[Long] =
    (0 until SimBits).map(j => math.floorMod(mix64(0xD000L + j), P - 1) + 1)
  private val simB: Seq[Long] =
    (0 until SimBits).map(j => math.floorMod(mix64(0xE000L + j), P))

  /** The declarative SimHash fingerprint pipeline (no UDF): explode
    * tokens, one mod-prime base hash per token, 60 one-bit majority votes
    * with MAP-SIDE combine, fingerprint assembled from the vote signs.
    * Shared by the d4 query and the banding-completeness spec. */
  def simhashFps(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    // scale-adaptive scan spread: 60 one-bit universal hashes per token
    // make this the simhash tier's dominant per-task work
    val toks = graft.tables.Tables.spreadSmallScan(
        graft.tables.Tables.documents(s, dir), col("doc_id"))
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .withColumn("h0", call_function("graft_charfold", col("term")))
    val votes = (0 until SimBits).map(j =>
      sum(when(((col("h0") * simA(j) + simB(j)) % P) % 2 === 1, 1L)
        .otherwise(-1L)).as(s"v$j"))
    val fpExpr = (0 until SimBits)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fpExpr.as("fp"))
  }

  /** Banded candidates + exact hamming verify over (doc_id, fp) SimHash
    * fingerprints: Manku single-band split (5 × 12-bit bands — pigeonhole-
    * complete for hamming ≤ HamBands−1 = 4), one equi-join shuffle on
    * (band, bv).  Shared by d4 and SimhashBandingSpec's planted sweep so
    * the spec exercises the production path (pass `maxHamming = SimBits`
    * to observe raw band candidates without the verify cut). */
  def simhashCandidatePairs(docs: org.apache.spark.sql.DataFrame,
      maxHamming: Int): org.apache.spark.sql.DataFrame = {
    val bandVals = array((0 until HamBands).map { b =>
      shiftright(col("fp"), b * BandWidth).bitwiseAND(lit((1L << BandWidth) - 1))
    }: _*)
    val banded = docs.select(col("doc_id"), col("fp"),
      posexplode(bandVals).as(Seq("band", "bv")))
    val cand = banded.select(col("band"), col("bv"), col("doc_id").as("doc_a"), col("fp").as("fp_a"))
      .join(banded.select(col("band"), col("bv"), col("doc_id").as("doc_b"), col("fp").as("fp_b")),
        Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("fp_a"), col("fp_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  val d4SimHash = NamedQuery(
    "d4_simhash",
    (s, dir) => {
      simhashCandidatePairs(simhashFps(s, dir), MaxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
    },
    Some(d4OracleSql),
    doc = "SimHash-60 (one-bit universal hashes, majority vote) + banded " +
      "candidates, recall-guaranteed for hamming ≤ 4; FULL value oracle")

  /** The identical SimHash pipeline as DuckDB SQL (constants inlined). */
  private def d4OracleSql: String = {
    val h0 = """list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(
           range(1, length(term) + 1),
           i -> CAST(ascii(substr(term, CAST(i AS INT), 1)) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007)"""
    val votes = (0 until SimBits).map(j =>
      s"sum(CASE WHEN ((${simA(j)} * h0 + ${simB(j)}) % $P) % 2 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n          ")
    val fp = (0 until SimBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    val bandRows = (0 until HamBands).map(b =>
      s"SELECT doc_id, fp, $b AS band, (fp // ${1L << (b * BandWidth)}) % ${1L << BandWidth} AS bv FROM fps")
      .mkString("\n        UNION ALL ")
    s"""WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      h AS (SELECT doc_id, $h0 AS h0 FROM tok),
      votes AS (
        SELECT doc_id,
          $votes
        FROM h GROUP BY doc_id),
      fps AS (SELECT doc_id, $fp AS fp FROM votes),
      bands AS (
        $bandRows),
      cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
          l.fp AS fp_a, r.fp AS fp_b
        FROM bands l JOIN bands r ON l.band = r.band AND l.bv = r.bv
        WHERE l.doc_id < r.doc_id)
      SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $MaxHamming
      ORDER BY hamming, doc_a, doc_b"""
  }

  // ---------------------------------------------------------------- d6
  /** Duplicate-cluster assignment — the step after pair detection in a
    * training-data dedup pipeline: connected components over the near-dup
    * graph, each document labeled with its component's minimum doc_id (the
    * canonical "keeper"; everything else is the drop set).
    *
    * Spark side: iterative min-label propagation over the edge list — each
    * round is one equi-join + min-aggregate, label information travels one
    * hop, so `ccRounds` bounds the reachable diameter.  Near-dup components
    * are near-cliques (diameter ≤ 2–3); see the round-count note in
    * [[clusterLabels]].  At 100 TB
    * this is the standard scalable CC shape (join+agg per round, shuffle on
    * the node key; cf. the alternating-star algorithms from the public
    * literature for O(log n) round counts) — no driver-side graph, no
    * actions during construction.  The DuckDB oracle states the same
    * fixpoint as a recursive CTE, so the round bound is verified against a
    * true transitive closure on every gate run. */
  /** Runs `body` with AQE and auto-broadcast disabled, restoring the
    * previous session values after — including UNSET keys (a plain
    * set-back would pin a default value the user never chose).  Query
    * CONSTRUCTION is single-threaded per session by library convention
    * (all `queries` entries build their plan synchronously); a concurrent
    * construction on the same session could observe the toggled values
    * for the duration of `body`. */
  /** Registers a construction-time cache entry compiled WITHOUT
    * auto-broadcast (and with AQE pinned off) — the same conf scope the
    * lineage cut runs under, for the same reason: a `.persist()` during
    * query CONSTRUCTION snapshots its compilation confs into the
    * CacheManager entry, and a LATER query whose construction
    * canonically matches the cached plan (e.g. d13's exact pair
    * relation ≡ c1's) adopts the entry.  The operative hazard is
    * BROADCAST exchanges baked into the entry: building the adopting
    * query's cut RDD prepares the cached child, and each broadcast
    * exchange submits its relation future — jobs at construction, which
    * this library bans (latent since round 7, surfaced when the query
    * map's iteration order put d13 before c1).  Note AQE is NOT the
    * culprit: Spark 4.1's CacheManager already force-disables AQE for
    * entry compilation while `canChangeCachedPlanOutputPartitioning`
    * is false (its default) — the toggle here is defensive against
    * that conf flipping, and the autoBroadcastJoinThreshold=-1 toggle
    * is the one doing the work; do not "simplify" it away.  The cached
    * subtree is the small end of the dedup funnel, so forgoing
    * broadcasts inside it costs nothing measurable. */
  private[queries] def constructionPersist(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withLineageCutConfs(s)(Derivations.persist(df))

  private def withLineageCutConfs[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val toggles = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = toggles.map { case (k, _) => k -> s.conf.getOption(k) }
    try { toggles.foreach { case (k, v) => s.conf.set(k, v) }; body }
    finally prev.foreach { case (k, vOpt) =>
      vOpt.fold(s.conf.unset(k))(v => s.conf.set(k, v))
    }
  }

  /** Cuts `df` from its logical-plan lineage via a lazy LogicalRDD
    * boundary and persists the result (MEMORY_AND_DISK — must spill,
    * not OOM).
    *
    * Why the cut: an iterated DataFrame EMBEDS another copy of its whole
    * upstream subtree per round, and analyzer/optimizer/codegen time over
    * k copies of that tree — not the data — dominates the query.  Under
    * AQE, building the execution RDD (and even a lazy localCheckpoint)
    * materializes query stages EAGERLY — jobs during construction, which
    * this library bans — so the conversion runs with AQE off: the RDD
    * lineage is then built lazily and nothing executes until the first
    * action, which materializes the persisted blocks once for all
    * downstream readers.  (Broadcast exchanges also materialize eagerly
    * when the RDD DAG is built — executeBroadcast submits its job — so
    * the cut subplan additionally forgoes broadcast joins for shuffle
    * joins; it runs exactly once and its inputs are the small end of
    * the dedup funnel.)
    *
    * The cut is PARTITIONING-PRESERVING
    * ([[org.apache.spark.sql.graftshim.PartitioningPreservingCut]]):
    * propagation rounds iterate on the node key, so each round's output
    * is already hash-partitioned the way the next round's join/agg
    * needs it — a cut that erased the layout (the public
    * createDataFrame-over-.rdd form) re-shuffled every round. */
  private[queries] def lineageCut(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withLineageCutConfs(s)(
      org.apache.spark.sql.graftshim.PartitioningPreservingCut.cut(df, Derivations.trackRdd))

  /** Connected components over an undirected pair list — the reusable CC
    * core, with two propagation strategies selected by the graph's
    * expected shape:
    *
    *  - `hashToMin = false` (default): one-hop min-label propagation —
    *    ONE join + ONE agg per round, the cheapest per-round form, but
    *    needing diameter-many rounds.  Right for TIGHT similarity
    *    thresholds (Jaccard ≥ 0.5), whose dup components are
    *    near-cliques of diameter ≤ 3 at every measured SF.
    *  - `hashToMin = true`: HASH-TO-MIN (Rastogi et al., "Finding
    *    Connected Components in Map-Reduce in Logarithmic Rounds",
    *    ICDE 2013 — public literature).  State is a (node, member)
    *    cluster relation; each round every node sends its cluster's min
    *    to all members and its members to the min.  Rounds are
    *    LOGARITHMIC in diameter (measured: 6 on the sf0.1 cosine-0.4
    *    graph, diameter 16; ≤ 9 on 127-node shuffled chains) at ~3×
    *    the per-round cost.  Right for LOOSE thresholds whose graphs
    *    chain — at 100 TB chain lengths grow with the corpus and
    *    one-hop propagation cannot keep up.  The component min ends up
    *    holding the member list (the output's information content);
    *    every other node's state shrinks to ~2 rows.
    *
    * Either way the returned plan carries a FIXPOINT GUARD: one extra
    * (tiny) aggregate that re-checks every edge has equal endpoint
    * labels and `raise_error`s at EXECUTION time if not.  A convergence
    * LOOP ("repeat until no label changes") needs an action per round,
    * and query construction in this library is action-free by contract
    * (the zero-jobs spec) — so instead of silently returning wrong
    * labels on a component needing more rounds, the query fails loudly
    * with the conf to raise.  Overshooting rounds is safe (the fixpoint
    * is stable), so defaults carry margin. */
  def propagateLabels(s: org.apache.spark.sql.SparkSession,
      pairs: org.apache.spark.sql.DataFrame,
      rounds: Int, hashToMin: Boolean = false): org.apache.spark.sql.DataFrame = {
    val edgesDf = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Two-level cut: edgesDf carries the (expensive) pair-generation tree
    // and is referenced by both union branches below, so it is cut FIRST —
    // pair-gen materializes exactly once — and the cheap union+distinct
    // over the persisted edges is cut second.
    val edges = lineageCut(s, edgesDf)
    val nodesDf = edges.select(col("src").as("node")).distinct()
    val edgesPlus = lineageCut(s, edges
      .unionByName(nodesDf.select(col("node").as("src"), col("node").as("dst"))))
    val labels =
      if (hashToMin) {
        // self-loop rows keep every node present in the state relation
        // even in rounds where no peer happens to send to it (totality)
        val selfRows = edgesPlus.filter(col("src") === col("dst"))
          .select(col("src").as("node"), col("dst").as("member"))
        var state = edgesPlus.select(col("src").as("node"), col("dst").as("member"))
        for (_ <- 1 to rounds) {
          val st = lineageCut(s, state)
          // whole-partition window min instead of groupBy+self-join: the
          // per-cluster min lands next to each member in ONE shuffle
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
          val withMin = st.withColumn("mn", min(col("member")).over(w))
          state = withMin.select(col("member").as("node"), col("mn").as("member"))
            .unionByName(withMin.select(col("mn").as("node"), col("member")))
            .unionByName(selfRows)
            .distinct()
        }
        state.groupBy(col("node")).agg(min(col("member")).as("label"))
      } else {
        // one-hop min-label propagation: ONE join + ONE agg per round
        // (cheapest per round; needs diameter-many rounds, so reserve it
        // for tight-threshold near-clique graphs)
        val nodes = edgesPlus.filter(col("src") === col("dst"))
          .select(col("src").as("node"))
        var lbl = nodes.withColumn("label", col("node"))
        for (_ <- 1 to rounds) {
          lbl = edgesPlus.join(lbl, edgesPlus("dst") === lbl("node"))
            .groupBy(col("src")).agg(min(col("label")).as("label"))
            .select(col("src").as("node"), col("label"))
        }
        lbl
      }
    // Final cut: the labels feed BOTH the output and the fixpoint guard
    // below; without it each reference would recompute the whole
    // propagation chain.
    val labelsCut = lineageCut(s, labels)
    // Fixpoint guard: at a true fixpoint every edge's endpoints share a
    // label (self-loops hold trivially, so edgesPlus serves as-is).
    // assert_true is non-foldable, and the join condition on its (null)
    // result keeps the guard subtree alive through column pruning; the
    // 1-row guard side joins as a BroadcastNestedLoopJoin (not a
    // CartesianProduct) at negligible cost.
    val guard = edgesPlus
      .join(labelsCut.select(col("node").as("src"), col("label").as("label_a")), "src")
      .join(labelsCut.select(col("node").as("dst"), col("label").as("label_b")), "dst")
      .filter(col("label_a") =!= col("label_b"))
      .agg(count(lit(1)).as("n_bad"))
      .select(assert_true(col("n_bad") === 0,
        concat(lit("graft: connected-components did not reach a fixpoint in "),
          lit(rounds),
          lit(if (hashToMin) " hash-to-min rounds (" else " propagation rounds ("),
          col("n_bad"),
          lit(" unconverged edges); raise spark.graft.cc.rounds"))).as("ok"))
    labelsCut.join(broadcast(guard), col("ok").isNull, "inner")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Default one-hop round count for the tight-threshold Jaccard graph
    * (near-cliques, diameter ≤ 2–3 everywhere measured): 4 carries
    * margin, and insufficient rounds error loudly via the guard instead
    * of mislabeling, so extra defaults would buy only latency. */
  private val DefaultCcRounds = 4

  /** The pair-source selector for the dedup tier:
    * `spark.graft.dedup.pairs = exact | banded` (default `banded`).
    *
    *  - `banded` (default): d3's MinHash-banded pipeline
    *    ([[bandedJaccardPairs]]) — candidates come from band-bucket
    *    collisions (bounded occupancy), the 100 TB path, with a
    *    SCALING.md growth exponent of ~0.22 vs ~0.42 for the cached
    *    exact tier.
    *  - `exact`: the prefix-filtered/naive exact global ≥0.5 Jaccard
    *    join — zero recall loss by construction, but its candidate step
    *    scales with shingle co-occurrence.  The opt-out AUDIT config:
    *    d13's ground truth is always built from it (via
    *    `sourceOverride`, conf-independent).
    *
    * Precision is exact either way (both verify with exact Jaccard);
    * only recall can differ, and the d13 audit CERTIFIES it: on the
    * driver corpus d13 proves zero banding loss (recall_bp = 10000) —
    * the evidence that authorized making `banded` the default in round
    * 9 (the round-8 verdict's explicit ask once the certificate held).
    * With equal pair sets, c1/d6/d9 produce byte-identical output under
    * either setting — spec-pinned by DedupPairSourceSpec and kept
    * honest by the unchanged DuckDB oracles (which always state the
    * exact relation, so the driver's hash gate re-proves the
    * equivalence at every run). */
  private def pairSourceConf(s: org.apache.spark.sql.SparkSession): String =
    s.conf.getOption("spark.graft.dedup.pairs").getOrElse("banded") match {
      case v @ ("exact" | "banded") => v
      case other => throw new IllegalArgumentException(
        s"spark.graft.dedup.pairs must be 'exact' or 'banded', got '$other'")
    }

  /** The ≥0.5 global Jaccard pairs — the shared input of
    * [[clusterLabels]] and the d13 audit, a session derivation: the pair
    * plan is memoized AND persisted (MEMORY_AND_DISK: the pair relation
    * is small, but must spill rather than OOM on a pathological corpus),
    * materializing once per session for every consumer. */
  def dupPairs(s: org.apache.spark.sql.SparkSession, dir: String,
      sourceOverride: Option[String] = None): org.apache.spark.sql.DataFrame = {
    TextOps.rejectPrefixFilterOverride(s)
    rejectUnsharedGraph(s)
    val source = sourceOverride.getOrElse(pairSourceConf(s))
    def built() = pairDerivation(s, dir, source)(source match {
      case "banded" => bandedJaccardPairs(s, dir)
      case _ => TextOps.adaptiveJaccardPairs(s, dir, 0.5, global = true)
    })
    // RECALL-FLOOR GUARD — `spark.graft.embed.minRecallBp`'s dedup analog
    // (round-10 verdict #4): a conf-selected `banded` source under
    // `spark.graft.dedup.minRecallBp` measures the d13 certificate
    // (memoized, `spark.graft.dedup.recallSampleMod` thins the corpus)
    // and fails loudly below the floor.  sourceOverride callers are the
    // audit machinery (d13 pins both sources to MEASURE) — unguarded by
    // design; the guard relation composes as a broadcast-free UNION so
    // it is safe below the tier's lineage cuts (see
    // Similarity.recallFloorGuard).  Note the guard is applied OUTSIDE
    // the memoized build: the memo key must stay a pure pair relation
    // (d13's audit adopts it), and re-wrapping a cached relation is free.
    val floorBp =
      if (source != "banded" || sourceOverride.nonEmpty) None
      else s.conf.getOption("spark.graft.dedup.minRecallBp").map(_.toLong)
    floorBp.fold(built()) { f =>
      val sampleMod = s.conf.getOption("spark.graft.dedup.recallSampleMod")
        .map(_.toLong).getOrElse(1L)
      val cert = dedupRecallCert(s, dir, sampleMod)
      s.conf.getOption("spark.graft.dedup.recallGuard").getOrElse("fail") match {
        case "warn" =>
          val bp = cert.collect().head.getLong(0)
          if (bp < f) org.slf4j.LoggerFactory.getLogger("graft.Dedup").warn(
            s"graft: dedup pair source 'banded' measured recall $bp bp < " +
              s"spark.graft.dedup.minRecallBp=$f (sampleMod=$sampleMod) on $dir — " +
              "proceeding because spark.graft.dedup.recallGuard=warn")
          built()
        case "fail" =>
          Similarity.recallFloorGuard(built(), cert, f,
            "spark.graft.dedup.minRecallBp",
            "the banded pair source would silently lose near-dup pairs on " +
              "this corpus; set spark.graft.dedup.pairs=exact, retune the " +
              "banding, or lower the floor deliberately (sampleMod=" +
              sampleMod + ")")
        case other => throw new IllegalArgumentException(
          s"spark.graft.dedup.recallGuard must be 'fail' or 'warn', got '$other'")
      }
    }
  }

  /** The dedup recall-floor guard's measured certificate: d13's recall
    * statistic (banded pairs vs the exact global ≥ 0.5 relation) over
    * the deterministic `doc_id % sampleMod = 0` corpus slice, both sides
    * sharing ONE persisted shingle relation (the d13 idiom).  1-row,
    * persisted, measured once per session per (dir, sampleMod, cap). */
  private def dedupRecallCert(s: org.apache.spark.sql.SparkSession, dir: String,
      sampleMod: Long): org.apache.spark.sql.DataFrame =
    Derivations.memo(s, dir, "dedupRecallCert", sampleMod, maxBucketConf(s)) {
      graft.sentiment.GraftFunctions.register(s)
      // both sides share ONE persisted per-doc array relation (the d13
      // idiom, r18 array form): the banded side bands/verifies off the
      // arrays, the exact side reads the exploded view of the same cache
      val docs = constructionPersist(s, docShingleArrays(s, dir)
        .filter(col("doc_id") % sampleMod === 0))
      val sh = constructionPersist(s, explodedShinglesOf(docs))
      val exact =
        TextOps.adaptiveJaccardPairs(s, dir, 0.5, global = true, Some(sh))
          .select(col("doc_a"), col("doc_b"))
      val banded = bandedJaccardPairs(s, dir, Some(docs))
        .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
      // one outer-join-marker pass + one global aggregate (the
      // embedRecallCert form): no cross join, no broadcast hint — safe
      // below the lineage cuts the guard union composes under.  Empty
      // exact relation → vacuous 10000 (nothing to lose).
      constructionPersist(s,
        exact.join(banded, Seq("doc_a", "doc_b"), "left")
          .agg(coalesce(
            expr("(sum(coalesce(hit, 0)) * 10000) div nullif(count(1), 0)"),
            lit(10000L)).as("recall_bp")))
    }

  /** Unordered (doc_id, cluster_id) component labels over the ≥0.5 exact
    * global Jaccard graph — the d6 query body, reusable by composed
    * pipelines (c1, d9).
    *
    * A session derivation, keyed by the corpus stamp, the cc round
    * count, the pair source and the recall-guard confs (the labels sit
    * over [[dupPairs]]' guarded relation): c1/d6/d9 in one session share ONE
    * pair-generation + propagation (the dominant cost of all three).
    * The build only CONSTRUCTS the plan (zero-jobs-at-construction
    * contract — lineage cuts materialize at first action), so holding
    * the registry's monitor during it is milliseconds. */
  def clusterLabels(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val ccRounds = s.conf.getOption("spark.graft.cc.rounds")
      .map(_.toInt).getOrElse(DefaultCcRounds)
    TextOps.rejectPrefixFilterOverride(s)
    rejectUnsharedGraph(s)
    rejectRetiredCut(s)
    val guardConfs = Seq("spark.graft.dedup.minRecallBp", "spark.graft.dedup.recallGuard",
      "spark.graft.dedup.recallSampleMod").map(s.conf.getOption)
    Derivations.memo(s, dir, "clusterLabels",
        (ccRounds +: pairShaping(s, dir, pairSourceConf(s))) ++ guardConfs: _*) {
      // the ≥ 0.5 pairs come from the configured source — banded, or the
      // scale-adaptive exact join (naive shingle self-join when small,
      // the AllPairs/PPJoin prefix filter at scale), both identical to
      // the recursive-CTE oracle's pair set on the certified corpus
      propagateLabels(s, dupPairs(s, dir), ccRounds)
    }
  }

  /** The exact global ≥0.5 Jaccard pair relation as DuckDB CTEs (through
    * `pairs(doc_a, doc_b)`) — THE single statement of the dedup tier's
    * ground truth, composed verbatim into [[dupGraphCteSql]] (d6/c1/d9)
    * AND the d13 audit's oracle, so a change to the pair definition can
    * never desynchronize the audit from the graph it certifies. */
  private[queries] val exactPairCteSql: String = """tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM tok WHERE len(w) >= 3),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5)"""

  /** The near-dup cluster graph as DuckDB CTEs (through `labels`), shared
    * verbatim by the d6 and c1 oracles — prepend `WITH RECURSIVE`. */
  private[queries] val dupGraphCteSql: String = s"""$exactPairCteSql,
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
      labels AS (SELECT node AS doc_id, min(label) AS cluster_id
                 FROM reach GROUP BY node)"""

  // ---------------------------------------------------------------- d8
  /** Cross-document repeated-SPAN detection — the Spark-shaped
    * approximation of exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, public
    * literature, use suffix arrays; the distributed equivalent hashes
    * fixed-length token windows): every 8-token rolling window is
    * fingerprinted, a window whose fingerprint occurs in ≥ 2 DISTINCT
    * documents is a duplicated span, and each document reports its
    * duplicated-position fraction (the drop criterion upstream pipelines
    * threshold at ~0.5).
    *
    * Differs from d1 (whole-doc), d2/d3 (set-of-shingles Jaccard) and t10
    * (within-doc repetition): d8 finds verbatim CROSS-doc span reuse at
    * sub-document granularity.  Spans are keyed by (mod-prime fold,
    * length) — 8-byte + 4-byte keys through the shuffle instead of ~50-byte
    * strings, the standard large-scale trade (a fold collision could only
    * add a false duplicate, identically in both engines).  Plan: one
    * shuffle on the span key (count-distinct-docs + rejoin co-partition),
    * one on doc_id. */
  /** (doc_id, h, ln) for every 8-token rolling span of every document —
    * the shared span-fingerprint relation under d8 (cross-doc span dedup)
    * and c7 (n-gram-level eval decontamination). */
  private[queries] def spanKeys(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    // scale-adaptive scan spread: the ~n-token rolling-span explosion is
    // d8/c7's dominant per-task work (Tables.spreadSmallScan rationale)
    graft.tables.Tables.spreadSmallScan(
        graft.tables.Tables.documents(s, dir), col("doc_id"))
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))")).as("span"))
      .select(col("doc_id"),
        call_function("graft_charfold", col("span")).as("h"),
        length(col("span")).as("ln"))
  }

  /** The same relation as DuckDB CTEs ending in `k(doc_id, h, ln)`. */
  private[queries] val spanKeyCteSql: String = """tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      sp AS (
        SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
                 i -> array_to_string(w[i:i+7], ' '))) AS span
        FROM tok WHERE len(w) >= 8),
      k AS (
        SELECT doc_id,
          list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(
              range(1, length(span) + 1),
              i -> CAST(ascii(substr(span, CAST(i AS INT), 1)) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007) AS h,
          length(span) AS ln
        FROM sp)"""

  val d8SpanDedup = NamedQuery(
    "d8_span_dedup",
    (s, dir) => {
      val spans = spanKeys(s, dir)
      val dupKeys = spans.groupBy(col("h"), col("ln"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      spans.join(dupKeys, Seq("h", "ln"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("dup_frac",
          floor(col("n_dup").cast("double") / col("n_spans") * 10000) / 10000.0)
        .select(col("doc_id"), col("n_spans"), col("n_dup"), col("dup_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $spanKeyCteSql,
      dk AS (SELECT h, ln, count(DISTINCT doc_id) AS nd FROM k GROUP BY h, ln),
      per AS (
        SELECT doc_id, count(*) AS n_spans,
          CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        FROM k JOIN dk USING (h, ln) GROUP BY doc_id)
      SELECT doc_id, n_spans, n_dup,
        floor(CAST(n_dup AS DOUBLE) / n_spans * 10000) / 10000.0 AS dup_frac
      FROM per ORDER BY doc_id"""),
    doc = "cross-doc repeated 8-token spans (hashed exact-substring dedup); " +
      "per-doc duplicated-position fraction; FULL value oracle")

  val d6DupClusters = NamedQuery(
    "d6_dup_clusters",
    (s, dir) => clusterLabels(s, dir).orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE $dupGraphCteSql
      SELECT doc_id, cluster_id FROM labels ORDER BY doc_id"""),
    doc = "connected components over the near-dup graph (canonical-keeper labels); " +
      "bounded min-label propagation vs a recursive-CTE oracle")

  // ---------------------------------------------------------------- d9
  /** Canonical-representative selection per duplicate cluster — the step
    * every dedup pipeline runs AFTER clustering (d6): keep exactly one
    * document per component, chosen by an explicit quality criterion
    * (here: longest text, ties to the smallest doc_id), and account for
    * what the cluster sheds.  One `min_by` aggregate over the labeled
    * docs — the argmin rides the same shuffle as the member counts
    * (map-side combined), no window, no second pass.  The comparator
    * struct `(-n_chars, doc_id)` is total and collision-free (doc_id is
    * unique), so the representative is deterministic at any partitioning.
    * At 100 TB this is the compaction join: labels ⋈ docs co-partition on
    * doc_id, then one agg on cluster_id. */
  val d9ClusterCanonical = NamedQuery(
    "d9_cluster_canonical",
    (s, dir) => {
      val docs = graft.tables.Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
      clusterLabels(s, dir)
        .join(docs, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(
          min_by(col("doc_id"), struct((-col("n_chars")).as("neg"), col("doc_id"))).as("rep_doc"),
          count(lit(1)).as("n_members"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""WITH RECURSIVE $dupGraphCteSql,
      members AS (
        SELECT l.cluster_id, l.doc_id, d.n_chars
        FROM labels l JOIN documents d USING (doc_id))
      SELECT cluster_id,
        (list(doc_id ORDER BY n_chars DESC, doc_id))[1] AS rep_doc,
        count(*) AS n_members,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM members GROUP BY cluster_id ORDER BY cluster_id"""),
    doc = "one canonical doc per dup cluster (longest text, ties to min " +
      "doc_id) via a single min_by aggregate over d6's labels")

  // ---------------------------------------------------------------- d13
  /** MinHash-banding recall harness — the dedup analogue of s9's ANN
    * recall query, and the audit behind d3's design trade: 4×4 banding
    * catches a jaccard-j pair with probability 1−(1−j⁴)⁴ (≈23% at the
    * 0.5 threshold, ≈99% at 0.9), so banded dedup CAN miss borderline
    * pairs while keeping the hot ones.  A production dedup pipeline
    * runs exactly this audit on a sample before trusting the banded
    * tier at full scale: ground truth = the exact global ≥0.5 Jaccard
    * pair relation (the prefix-filtered dedup-tier relation c1/d6 run
    * on), measured tier = d3's banded+verified pairs — the REAL
    * pipelines, composed (single source of truth).
    *
    * Both sides of the audit are informative: a recall drop below
    * 10000 bp means the banding (or the corpus's similarity profile)
    * shifted toward the borderline zone; a precision drop means d3's
    * exact verify broke.  On the driver corpus every planted near-dup
    * is high-jaccard, so the audit PROVES zero banding loss
    * (25 = 25 = 25 at sf0.01) rather than measuring one — exactly the
    * certificate a deployment wants before switching the exact tier
    * off.
    *
    * Scale shape: the expensive relations are the composed pipelines
    * themselves (each already sub-quadratic); the harness adds one
    * equi-join on the (doc_a, doc_b) pair key and three 1-row
    * aggregates joined by s1-style constant-side broadcasts. */
  val d13BandingRecall = NamedQuery(
    "d13_banding_recall",
    (s, dir) => {
      // Both pair relations feed TWO consumers each (the overlap join and
      // a count aggregate), so each side is its persisted `dupPairs`
      // derivation: a side the session already holds (c1/d6/d9 built it)
      // is taken from the registry, a side built here is left there for
      // them.  The ground-truth side is PINNED to the exact source: under
      // spark.graft.dedup.pairs=banded the audit must still measure the
      // banded tier against the exact relation, not against itself.
      //
      // The sides this audit builds SHARE one persisted shingle relation
      // (round-10 verdict #6): the exploded word-trigram shingles are the
      // dominant shared cost (each side used to tokenize + explode the
      // corpus from scratch), and sharing changes no output — both sides
      // read the identical relation they each built before.
      graft.sentiment.GraftFunctions.register(s)
      rejectUnsharedGraph(s)
      lazy val sharedDocs = constructionPersist(s, docShingleArrays(s, dir))
      val exact = pairDerivation(s, dir, "exact")(
        TextOps.adaptiveJaccardPairs(s, dir, 0.5, global = true,
          Some(constructionPersist(s, explodedShinglesOf(sharedDocs)))))
      val banded = pairDerivation(s, dir, "banded")(
        bandedJaccardPairs(s, dir, Some(sharedDocs)))
      val hits = banded.join(exact, Seq("doc_a", "doc_b"))
      val ne = exact.agg(count(lit(1)).as("n_exact"))
      val nb = banded.agg(count(lit(1)).as("n_banded"))
      val nh = hits.agg(count(lit(1)).as("hits"))
      ne.crossJoin(broadcast(nb)).crossJoin(broadcast(nh))
        .select(col("n_exact"), col("n_banded"), col("hits"),
          expr("(hits * 10000) div nullif(n_exact, 0)").as("recall_bp"),
          expr("(hits * 10000) div nullif(n_banded, 0)").as("precision_bp"))
    },
    Some(s"""WITH $exactPairCteSql,
      exact AS (SELECT doc_a, doc_b FROM pairs),
      banded AS (SELECT doc_a, doc_b FROM (${d3MinHashLsh.oracle.get}) t),
      hits AS (SELECT b.doc_a, b.doc_b FROM banded b
               JOIN exact e ON b.doc_a = e.doc_a AND b.doc_b = e.doc_b)
      SELECT
        (SELECT count(*) FROM exact)  AS n_exact,
        (SELECT count(*) FROM banded) AS n_banded,
        (SELECT count(*) FROM hits)   AS hits,
        CAST((SELECT count(*) FROM hits) * 10000
          // nullif((SELECT count(*) FROM exact), 0) AS BIGINT) AS recall_bp,
        CAST((SELECT count(*) FROM hits) * 10000
          // nullif((SELECT count(*) FROM banded), 0) AS BIGINT) AS precision_bp"""),
    doc = "MinHash-banding recall audit: d3's banded pairs measured " +
      "against d2's exact >=0.5 Jaccard ground truth, recall/precision " +
      "in integer basis points, composed from the oracled tiers")

  // ---------------------------------------------------------------- d14
  /** INCREMENTAL near-dup detection — the production shape of dedup at
    * 100 TB, where the corpus is NEVER re-deduped whole: an INCOMING
    * batch (here the deterministic `doc_id % 10 = 7` slice, standing in
    * for "today's crawl") is checked against the EXISTING corpus by
    * joining only the incoming documents' band keys against the full
    * band-bucket relation — at scale the existing side is a STORED
    * index maintained across ingests, so per-batch cost is
    * |incoming| × bucket occupancy, never corpus × corpus.  Candidates
    * with ≥1 incoming side verify with the same exact-Jaccard step as
    * d3, and each verified pair is labeled `new-old` (incoming doc hit
    * the archive) or `new-new` (two docs inside the batch — the
    * self-dedup of the batch rides the same join).
    *
    * Correctness is compositional: the output is EXACTLY d3's full
    * verified relation restricted to pairs touching the incoming slice
    * (spec-pinned against d3's own pipeline; the DuckDB oracle filters
    * d3's oracle the same way), so the incremental path can never find
    * or lose a pair the batch tier wouldn't. */
  val d14IncrementalDedup = NamedQuery(
    "d14_incremental_dedup",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val isNew = (c: org.apache.spark.sql.Column) => c % 10 === 7
      // scan-side band kernel + array verify off ONE persisted per-doc
      // array relation (the r18 bandedJaccardPairs shape — see its
      // rationale; the pipelines stay structurally shared so the
      // incremental path can never disagree with d3)
      val docs = constructionPersist(s, docShingleArrays(s, dir))
      val bands = docs.select(col("doc_id"), col("n_sh"),
        posexplode(call_function("graft_band_values", col("sharr")))
          .as(Seq("band", "bv")))
      // incoming side only on the left: the equi-join probes the full
      // bucket relation with just the batch's keys (at 100 TB: a stored
      // index; incoming bands broadcast if the batch is small)
      val inc = bands.filter(isNew(col("doc_id")))
        .select(col("band"), col("bv"), col("doc_id").as("doc_i"), col("n_sh").as("si"))
      val allB = bands
        .select(col("band"), col("bv"), col("doc_id").as("doc_o"), col("n_sh").as("so"))
      val cand = inc.join(allB, Seq("band", "bv"))
        .filter(col("doc_i") =!= col("doc_o"))
        // normalize (a < b) as (id, n_sh) structs so sizes travel with ids
        .withColumn("pa", when(col("doc_i") < col("doc_o"),
          struct(col("doc_i").as("id"), col("si").as("n")))
          .otherwise(struct(col("doc_o").as("id"), col("so").as("n"))))
        .withColumn("pb", when(col("doc_i") < col("doc_o"),
          struct(col("doc_o").as("id"), col("so").as("n")))
          .otherwise(struct(col("doc_i").as("id"), col("si").as("n"))))
        .select(col("pa.id").as("doc_a"), col("pb.id").as("doc_b"),
          col("pa.n").as("sa"), col("pb.n").as("sb"))
        .distinct()
      verifyExactJaccard(cand, docs)
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          when(isNew(col("doc_a")) && isNew(col("doc_b")), "new-new")
            .otherwise("new-old").as("pair_type"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""SELECT doc_a, doc_b, jaccard,
        CASE WHEN doc_a % 10 = 7 AND doc_b % 10 = 7 THEN 'new-new'
             ELSE 'new-old' END AS pair_type
      FROM ($d3OracleSql) d3full
      WHERE doc_a % 10 = 7 OR doc_b % 10 = 7
      ORDER BY doc_a, doc_b"""),
    doc = "incremental dedup: the doc_id%10=7 incoming slice checked " +
      "against the full corpus via a one-sided band-key probe + exact " +
      "verify; output == d3's relation restricted to pairs touching the " +
      "batch, labeled new-old/new-new; FULL value oracle composing d3's")

  def all: Seq[NamedQuery] = Seq(d3MinHashLsh, d4SimHash, d6DupClusters, d8SpanDedup,
    d9ClusterCanonical, d13BandingRecall, d14IncrementalDedup)
}
