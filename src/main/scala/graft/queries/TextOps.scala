package graft.queries

import graft.{NamedQuery, RetiredConf}
import graft.tables.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis / LLM-training-data pack over the `documents` table:
  * token statistics, language-ID heuristic, quality scoring, document
  * fingerprinting, exact + n-gram-Jaccard dedup.  (MinHash/SimHash live in
  * `Dedup`; embedding similarity in `Similarity`.)
  *
  * Everything is built from codegen'd `functions._` (regexp counts, array
  * higher-order functions) — no UDF in any oracle-checked query, so the whole
  * pack stays inside whole-stage codegen and scales by partition count alone
  * (documents is embarrassingly parallel; the only shuffles are the final
  * small aggregates and the dedup self-join, which is shingle-partitioned).
  */
object TextOps {

  /** Whitespace tokens of non-empty text. */
  private[queries] def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Normalized-text exact-dedup fingerprint — THE dedup key.  One
    * definition shared by d1, t4, and both streaming dedup sinks; the
    * DuckDB oracles restate it literally (their SQL cannot reference this). */
  def normFingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  private def stopwordCount(cleaned: Column): Column =
    size(regexp_extract_all(cleaned, lit("\\b(the|a|of|and|to|in)\\b"), lit(0)))

  // ------------------------------------------------------------------
  // Shared quality / language-ID building blocks.  t2, t3, and c1 compose
  // THESE (Spark columns and SQL fragments alike) — one definition each,
  // so tuning a weight or a marker list cannot silently diverge between
  // the tier queries and the c1 pipeline that composes them.
  // ------------------------------------------------------------------
  private val MarkersEn = "\\b(the|a|of|and|to|in)\\b"
  private val MarkersEs = "\\b(el|la|los|las|un|una|y|en|de)\\b"
  private val MarkersFr = "\\b(le|la|les|des|un|une|et|est)\\b"

  private def markerCount(pat: String): Column =
    size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))

  /** Adds n_tokens / punct_ratio / stop_ratio / quality (t3's formula). */
  private[queries] def withQualitySignals(df: DataFrame): DataFrame = df
    .withColumn("n_tokens", size(tokens(col("text"))).cast("double"))
    .withColumn("punct_ratio",
      (length(col("text")) - length(regexp_replace(col("text"), "[^\\w\\s]", "")))
        .cast("double") / length(col("text")))
    .withColumn("stop_ratio",
      stopwordCount(lower(col("text"))).cast("double") / col("n_tokens"))
    // floor-quantize instead of round: both engines compute bit-identical
    // doubles (same op order), but their round() tie-breaking differs
    // (BigDecimal HALF_UP vs numeric) and this formula's decimal weights
    // land on .5 boundaries often; floor is unambiguous.
    .withColumn("quality",
      floor((least(col("n_tokens") / 100.0, lit(1.0)) * 0.5
        + (lit(1.0) - col("punct_ratio")) * 0.3
        + least(col("stop_ratio") * 5.0, lit(1.0)) * 0.2) * 10000) / 10000.0)

  /** Adds s_en / s_es / s_fr marker counts and the lang_pred argmax (t2). */
  private[queries] def withLangPred(df: DataFrame): DataFrame = df
    .withColumn("s_en", markerCount(MarkersEn))
    .withColumn("s_es", markerCount(MarkersEs))
    .withColumn("s_fr", markerCount(MarkersFr))
    .withColumn("lang_pred",
      when(col("s_en") === 0 && col("s_es") === 0 && col("s_fr") === 0, "unknown")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))

  // the same blocks as DuckDB SQL fragments (markers mirrored with \b)
  private val sEnSql = raw"len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in)\b', 0))"
  private val sEsSql = raw"len(regexp_extract_all(lower(text), '\b(el|la|los|las|un|una|y|en|de)\b', 0))"
  private val sFrSql = raw"len(regexp_extract_all(lower(text), '\b(le|la|les|des|un|une|et|est)\b', 0))"

  private val langPredCaseSql =
    """CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
           WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           WHEN s_es >= s_fr THEN 'es'
           ELSE 'fr' END"""

  private[queries] val langPredSubSql: String =
    s"""SELECT doc_id, lang, $langPredCaseSql AS lang_pred
        FROM (SELECT doc_id, lang, $sEnSql AS s_en, $sEsSql AS s_es, $sFrSql AS s_fr
              FROM documents WHERE text IS NOT NULL AND text <> '') x"""

  private[queries] val qualityExprSql =
    """floor((least(n_tokens / 100.0, 1.0) * 0.5
              + (1.0 - punct_ratio) * 0.3
              + least(stop_ratio * 5.0, 1.0) * 0.2) * 10000) / 10000.0"""

  private[queries] val qualitySignalsSubSql: String =
    raw"""SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
          / length(text) AS punct_ratio,
        CAST($sEnSql AS DOUBLE)
          / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio
        FROM documents WHERE text IS NOT NULL AND text <> ''"""

  // ---------------------------------------------------------------- t1
  val t1TokenStats = NamedQuery(
    "t1_token_stats",
    (s, dir) => {
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("n_tokens", size(tokens(col("text"))))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          Exact.avg4(col("n_tokens"), 0).as("avg_tokens"),
          Exact.avg4(length(col("text")), 0).as("avg_chars"),
          max(col("n_tokens")).as("max_tokens"),
          min(col("n_tokens")).as("min_tokens"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
      floor(round(sum(len(regexp_split_to_array(trim(text), '\s+')))) / count(*) * 10000) / 10000.0 AS avg_tokens,
      floor(round(sum(length(text))) / count(*) * 10000) / 10000.0 AS avg_chars,
      CAST(max(len(regexp_split_to_array(trim(text), '\s+'))) AS INTEGER) AS max_tokens,
      CAST(min(len(regexp_split_to_array(trim(text), '\s+'))) AS INTEGER) AS min_tokens
      FROM documents WHERE text IS NOT NULL AND text <> ''
      GROUP BY lang ORDER BY lang"""),
    doc = "token counting (whitespace tokenizer) aggregated per lang")

  // ---------------------------------------------------------------- t2
  /** Language-ID by stopword-marker counting — the n-gram-heuristic shape
    * (real corpora would carry real marker lists; the synthetic corpus is
    * English-ish word salad, so the interesting part is the deterministic
    * argmax plumbing, expressed identically in both engines). */
  val t2LangId = NamedQuery(
    "t2_lang_id",
    (s, dir) => {
      withLangPred(Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= ""))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },
    Some(s"""SELECT lang, lang_pred, count(*) AS n FROM ($langPredSubSql) y
      GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""),
    doc = "language-ID heuristic (marker-word counting, deterministic argmax)")

  // ---------------------------------------------------------------- t3
  /** Per-document quality score: length saturation + punctuation cleanliness
    * + stopword density (the classic pre-training quality trio). */
  val t3QualityScore = NamedQuery(
    "t3_quality_score",
    (s, dir) => {
      withQualitySignals(Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= ""))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          (floor(col("stop_ratio") * 10000) / 10000.0).as("stop_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, n_tokens,
        floor(stop_ratio * 10000) / 10000.0 AS stop_ratio,
        $qualityExprSql AS quality
      FROM ($qualitySignalsSubSql) t
      ORDER BY doc_id"""),
    doc = "quality scoring: length/punct/stopword ratios per doc")

  // ---------------------------------------------------------------- t4
  /** Document fingerprinting: md5 over whitespace-normalized lowercase text
    * (the exact-dedup key).  Summarized per source: unique-fingerprint count
    * = dedup rate. */
  val t4Fingerprint = NamedQuery(
    "t4_fingerprint",
    (s, dir) => {
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("fp", normFingerprint(col("text")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique
      FROM (SELECT source, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
            FROM documents WHERE text IS NOT NULL AND text <> '') t
      GROUP BY source ORDER BY source"""),
    doc = "md5 fingerprint (normalized text) + per-source dedup rate")

  // ---------------------------------------------------------------- t6
  /** BPE-ish token counting: a GPT-2-style pre-tokenizer regex (word pieces,
    * punctuation runs, contractions) plus the chars/4 rule-of-thumb — the
    * two standard cheap token estimators for training-data budgeting. */
  val t6BpeTokens = NamedQuery(
    "t6_bpe_tokens",
    (s, dir) => {
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?\\w+| ?[^\\w\\s]+"
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("n_pieces", size(regexp_extract_all(lower(col("text")), lit(pat), lit(0))))
        .withColumn("n_chars_est", ceil(length(col("text")) / 4.0).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pieces")).as("total_pieces"),
          sum(col("n_chars_est")).as("total_est"),
          Exact.avg4(col("n_pieces"), 0).as("avg_pieces"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
      CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
      CAST(sum(n_chars_est) AS BIGINT) AS total_est,
      floor(round(sum(n_pieces)) / count(*) * 10000) / 10000.0 AS avg_pieces
      FROM (SELECT lang,
        len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?\w+| ?[^\w\s]+', 0)) AS n_pieces,
        CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_est
        FROM documents WHERE text IS NOT NULL AND text <> '') t
      GROUP BY lang ORDER BY lang"""),
    doc = "BPE-ish pre-tokenizer piece counting + chars/4 estimate per lang")

  // ---------------------------------------------------------------- t7
  /** Rolling (polynomial / Rabin-Karp-style) fingerprint over the token
    * stream: fold acc = (acc·31 + tokenval) mod 1e9+7 — order-sensitive,
    * unlike md5-of-normalized-text, so reorderings fingerprint differently.
    * tokenval uses only SQL-computable features (length + first/last char
    * codes) so the oracle replays it exactly. */
  val t7RollingFingerprint = NamedQuery(
    "t7_rolling_fingerprint",
    (s, dir) => {
      // native codegen'd kernel (graft.functions.RollingFingerprint) —
      // the round-1 Scala UDF paid an encoder boundary per row
      graft.sentiment.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("fp",
          call_function("graft_rolling_fp", split(trim(lower(col("text"))), "\\s+")))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .filter(col("n_docs") >= 1)
        .groupBy(col("n_docs"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("n_docs"))
    },
    Some("""SELECT n_docs, count(*) AS n_groups FROM (
        SELECT fp, count(*) AS n_docs, min(doc_id) AS keeper FROM (
          SELECT doc_id,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT), list_transform(
                regexp_split_to_array(trim(lower(text)), '\s+'),
                t -> CAST(length(t) AS BIGINT) * 131
                     + CAST(ascii(substr(t, 1, 1)) AS BIGINT) * 7
                     + CAST(ascii(substr(t, -1, 1)) AS BIGINT))),
              (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
          FROM documents WHERE text IS NOT NULL AND text <> '') a
        GROUP BY fp) b
      GROUP BY n_docs ORDER BY n_docs"""),
    doc = "order-sensitive rolling-hash fingerprint; copy-count histogram")

  // ---------------------------------------------------------------- t5
  /** F6 parity: truncate + concat preview of the newest documents
    * (dashboard recent-posts table, DSA:386–395). */
  val t5Preview = NamedQuery(
    "t5_preview",
    (s, dir) => {
      Tables.documents(s, dir)
        .orderBy(col("doc_id").desc)
        .limit(10)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 80), lit("...")).as("preview"))
    },
    Some("""SELECT doc_id, substr(text, 1, 80) || '...' AS preview
      FROM documents ORDER BY doc_id DESC LIMIT 10"""),
    doc = "string truncate+concat preview (DSA:393 F6 parity)")

  // ---------------------------------------------------------------- d1
  /** Exact dedup: keep min doc_id per fingerprint (hash-groupBy — one
    * shuffle on the fingerprint; at 100 TB this is the cheapest dedup and
    * runs before any fuzzy pass). */
  val d1DedupExact = NamedQuery(
    "d1_dedup_exact",
    (s, dir) => {
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("fp", normFingerprint(col("text")))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .groupBy(col("n_copies"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("n_copies"))
    },
    Some("""SELECT n_copies, count(*) AS n_groups FROM (
        SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents WHERE text IS NOT NULL AND text <> ''
        GROUP BY fp) t
      GROUP BY n_copies ORDER BY n_copies"""),
    doc = "exact dedup via fingerprint groupBy; histogram of copy counts")

  // ---------------------------------------------------------------- d2
  /** N-gram Jaccard near-dup detection, scoped within source: word-trigram
    * shingles → explode → shingle-equijoin (co-occurrence counting) →
    * |A∩B| / (|A|+|B|−|A∩B|) ≥ 0.2.  This is the exact form of what
    * MinHash+LSH approximates; the shingle join shuffles on (source,shingle)
    * so it scales with shingle frequency, not with n². */
  val d2NgramJaccard = NamedQuery(
    "d2_ngram_jaccard",
    (s, dir) => {
      val pairs = adaptiveJaccardPairs(s, dir, 0.2)
      pairs
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      sh AS (
        SELECT doc_id, source, unnest(list_distinct(list_transform(
                 range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM tok WHERE len(w) >= 3),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b,
        round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.2
      ORDER BY doc_a, doc_b"""),
    doc = "n-gram (word-trigram) Jaccard near-dup pairs within source")

  // ---------------------------------------------------------------- d16
  /** Cross-source overlap matrix — the corpus-composition audit run before
    * mixing training sources (how much of source A is already in source B;
    * the reference's per-source views — `dashboard/streamlit_app.py` source
    * breakdowns — ask the per-source question, this asks the cross-source
    * one): for every source pair, the number of distinct word-trigram
    * shingles they share and the shingle-set Jaccard in basis points
    * (integer-exact — no float hashes cross-engine).
    *
    * Scale shape (the part that must survive 100 TB): ONE corpus-sized
    * shuffle — `groupBy(shingle) → collect_set(source)` (sets bounded by
    * |sources|, hundreds at most, regardless of corpus size).  Per-source
    * distinct counts and pair co-occurrence both derive from that one
    * aggregate: each shingle's sorted source set emits its singleton rows
    * (→ per-source counts) AND its ordered pairs (→ shared counts, ≤ S²/2
    * per shingle) in a single flatten, so there is no second corpus pass
    * and no per-source distinct-count aggregate.  The collapsed `counts`
    * relation (≤ S + S²/2 rows — tiny regardless of corpus size) is
    * PERSISTED so its three consumers (the shared-pairs filter and the
    * two per-source joins-back) execute the corpus aggregate exactly
    * once; round 11 shipped this unpersisted and the static plan showed
    * three full corpus scans (VERDICT r11 #2) — relying on AQE stage
    * reuse that nothing gated.  PlanAudit now gates the shape: 1 parquet
    * scan (pruned to source,text), ≤ 2 data shuffles below the persist
    * boundary, no SMJ; D16SourceOverlapSpec recounts the matrix against
    * a plain-Scala implementation on a planted multi-source fixture. */
  val d16SourceOverlap = NamedQuery(
    "d16_source_overlap",
    (s, dir) => {
      val bySh = shingles(s, dir)
        .groupBy(col("shingle"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
      // one flatten emits, per shingle, S singletons + the C(S,2) ordered
      // pairs; null src_b marks a singleton (a per-source count row)
      val items = flatten(transform(col("srcs"), (a, i) =>
        concat(
          array(struct(a.as("src_a"), lit(null).cast("string").as("src_b"))),
          transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
            b => struct(a.as("src_a"), b.as("src_b"))))))
      val counts = Dedup.constructionPersist(s, bySh
        .select(explode(items).as("it"))
        .select(col("it.src_a").as("src_a"), col("it.src_b").as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n")))
      val per = counts.filter(col("src_b").isNull)
        .select(col("src_a").as("src"), col("n"))
      counts.filter(col("src_b").isNotNull)
        .withColumnRenamed("n", "n_shared")
        .join(broadcast(per.select(col("src"), col("n").as("n_a"))),
          col("src_a") === col("src")).drop("src")
        .join(broadcast(per.select(col("src"), col("n").as("n_b"))),
          col("src_b") === col("src")).drop("src")
        .withColumn("jaccard_bp",
          expr("(10000 * n_shared) div (n_a + n_b - n_shared)"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          col("n_a"), col("n_b"), col("jaccard_bp"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      sh AS (
        SELECT doc_id, source, unnest(list_distinct(list_transform(
                 range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM tok WHERE len(w) >= 3),
      ssh AS (SELECT DISTINCT source, shingle FROM sh),
      counts AS (SELECT source, count(*) AS n FROM ssh GROUP BY source),
      shared AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, n_shared, ca.n AS n_a, cb.n AS n_b,
             (10000 * n_shared) // (ca.n + cb.n - n_shared) AS jaccard_bp
      FROM shared
      JOIN counts ca ON ca.source = shared.src_a
      JOIN counts cb ON cb.source = shared.src_b
      ORDER BY src_a, src_b"""),
    doc = "cross-source shingle-overlap matrix: shared distinct word-trigram " +
      "shingles + integer-bp Jaccard per source pair, one corpus shuffle")

  // ---------------------------------------------------------------- d17
  /** Sketch size of the cross-source overlap estimator — standard error
    * of the KMV Jaccard estimate is ~√(J(1−J)/k) (Beyer et al., SIGMOD
    * 2007), so 256 reads overlap to within a few hundred basis points;
    * a deployment retunes per fleet. */
  private[graft] val OverlapSketchK = 256

  /** Cross-source overlap SKETCH — d16's bounded-memory scale path: the
    * exact matrix costs one corpus-sized `groupBy(shingle)` shuffle per
    * audit, which a 100 TB deployment cannot run continuously; this
    * estimator keeps ONE `graft_kmv_mins` synopsis per source (the k
    * smallest distinct shingle hashes — map-side combined, so the
    * shuffle carries ≤ k longs per source per mapper, NEVER the corpus)
    * and reads every pairwise overlap off the ≤ |sources|-row sketch
    * relation with Beyer et al.'s multiset estimators:
    *
    *   the k-mins of A ∪ B are exactly the k smallest of
    *   mins(A) ∪ mins(B);  ρ = |k-mins(A∪B) ∩ mins(A) ∩ mins(B)|
    *   estimates ρ/k ≈ J(A, B), and ρ·|A∪B|est div k ≈ |A∩B|.
    *
    * Every step — charfold hash, order statistics, set intersection,
    * integer division — is exact int64 arithmetic, so the WHOLE
    * estimator (not just the exact branch) replays bit-for-bit in
    * DuckDB: a fully value-oracled sketch, like a6/a10.  Sources whose
    * sketch is complete (< k distinct shingles) take the EXACT branch —
    * at sf0.001 every source does, which is how the spec pins the
    * estimator against d16's exact matrix with equality, not tolerance.
    * d16 stays the exact audit; d17 is what runs continuously. */
  /** The ≤ |sources|-row KMV sketch relation `(source, mins)` shared by
    * d17's pairwise and d18's three-way estimators — PERSISTED: every
    * side of the pair/triple joins reads it, and without the boundary
    * the corpus is shingled+sketched once per side (d16's round-11
    * defect class — PlanAudit gates the single pruned scan). */
  private[graft] def overlapSketchRelation(s: SparkSession, dir: String): DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    Dedup.constructionPersist(s, shingles(s, dir)
      .select(col("source"), call_function("graft_charfold", col("shingle")).as("h"))
      .groupBy(col("source"))
      .agg(call_function("graft_kmv_mins",
        col("h"), lit(OverlapSketchK), lit(graft.functions.CharFoldKernel.Prime))
        .as("mins")))
  }

  /** The shared DuckDB replay of [[overlapSketchRelation]]: corpus →
    * distinct per-source word-trigram shingles → charfold → per-source
    * k smallest (`mins(source, mins)`). */
  private[graft] def overlapSketchCtes: String = s"""tok AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      sh AS (
        SELECT DISTINCT source, unnest(list_distinct(list_transform(
                 range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM tok WHERE len(w) >= 3),
      hs AS (
        SELECT DISTINCT source,
          ${graft.functions.CharFoldKernel.sqlOf("shingle")} AS h
        FROM sh),
      mins AS (
        SELECT source, list(h ORDER BY h) AS mins FROM (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hs) r WHERE rn <= $OverlapSketchK GROUP BY source)"""

  val d17OverlapSketch = NamedQuery(
    "d17_overlap_sketch",
    (s, dir) => overlapFromSketches(overlapSketchRelation(s, dir), OverlapSketchK),
    Some(s"""WITH $overlapSketchCtes,
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.mins AS ma, b.mins AS mb,
               CAST(len(a.mins) AS BIGINT) AS la, CAST(len(b.mins) AS BIGINT) AS lb,
               list_intersect(a.mins, b.mins) AS ab,
               list_sort(list_distinct(a.mins || b.mins)) AS uni
        FROM mins a JOIN mins b ON a.source < b.source),
      calc AS (
        SELECT src_a, src_b, la, lb, ab, uni,
               la < $OverlapSketchK AND lb < $OverlapSketchK AS ex,
               CAST(len(list_intersect(uni[1:$OverlapSketchK], ab)) AS BIGINT) AS rho,
               CASE WHEN la < $OverlapSketchK THEN la
                    ELSE ${(OverlapSketchK - 1) * 1000000007L} // ma[$OverlapSketchK] END AS est_a,
               CASE WHEN lb < $OverlapSketchK THEN lb
                    ELSE ${(OverlapSketchK - 1) * 1000000007L} // mb[$OverlapSketchK] END AS est_b,
               CASE WHEN la < $OverlapSketchK AND lb < $OverlapSketchK
                    THEN CAST(len(uni) AS BIGINT)
                    ELSE ${(OverlapSketchK - 1) * 1000000007L} // uni[$OverlapSketchK] END AS est_union
        FROM pairs)
      SELECT src_a, src_b, ex AS exact,
        CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b,
        CAST(CASE WHEN ex THEN len(ab)
                  ELSE (rho * est_union) // $OverlapSketchK END AS BIGINT) AS est_shared,
        CAST(CASE WHEN ex THEN (10000 * len(ab)) // len(uni)
                  ELSE (10000 * rho) // $OverlapSketchK END AS BIGINT) AS jaccard_bp
      FROM calc ORDER BY src_a, src_b"""),
    doc = "cross-source overlap SKETCH: one bounded graft_kmv_mins synopsis " +
      "per source (k smallest distinct shingle hashes, map-side combined — " +
      "shuffle <= k longs/source, never the corpus), pairwise " +
      "intersection/Jaccard via the KMV multiset estimators in exact " +
      "int64 — d16's continuously-runnable scale path, FULLY value-oracled")

  /** d17's pairwise estimator over a `(source, mins)` sketch relation —
    * THE single definition of the overlap arithmetic, shared by the
    * batch query above and the live monitor's report
    * ([[graft.stream.LiveOverlapSketch.reportOf]]): live ≡ batch holds
    * by construction because neither path restates these expressions.
    * All exact int64 (the estimators' derivation: the d17 doc). */
  private[graft] def overlapFromSketches(sk: DataFrame, K: Int): DataFrame = {
    val km = (K - 1).toLong * graft.functions.CharFoldKernel.Prime
    sk.select(col("source").as("src_a"), col("mins").as("ma"))
      .crossJoin(broadcast(
        sk.select(col("source").as("src_b"), col("mins").as("mb"))))
      .filter(col("src_a") < col("src_b"))
      .withColumn("la", size(col("ma")).cast("long"))
      .withColumn("lb", size(col("mb")).cast("long"))
      .withColumn("exact", col("la") < K && col("lb") < K)
      .withColumn("ab", array_intersect(col("ma"), col("mb")))
      .withColumn("uni", array_sort(array_distinct(concat(col("ma"), col("mb")))))
      .withColumn("u", slice(col("uni"), 1, K))
      .withColumn("rho", size(array_intersect(col("u"), col("ab"))).cast("long"))
      .withColumn("est_a", when(col("la") < K, col("la"))
        .otherwise(expr(s"$km div element_at(ma, $K)")))
      .withColumn("est_b", when(col("lb") < K, col("lb"))
        .otherwise(expr(s"$km div element_at(mb, $K)")))
      .withColumn("est_union", when(col("exact"), size(col("uni")).cast("long"))
        .otherwise(expr(s"$km div element_at(u, $K)")))
      .withColumn("est_shared", when(col("exact"), size(col("ab")).cast("long"))
        .otherwise(expr(s"(rho * est_union) div $K")))
      .withColumn("jaccard_bp",
        when(col("exact"), expr("(10000 * size(ab)) div size(uni)").cast("long"))
          .otherwise(expr(s"(10000 * rho) div $K")))
      .select(col("src_a"), col("src_b"), col("exact"),
        col("est_a"), col("est_b"), col("est_shared"), col("jaccard_bp"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---------------------------------------------------------------- d18
  /** d18's THREE-WAY estimator over a `(source, mins)` sketch relation —
    * the d17 arithmetic extended to triples (Beyer et al. §4
    * generalizes: the k-mins of A∪B∪C are exactly the k smallest of the
    * pooled mins, and for any h among them "h ∈ X" is decidable from
    * mins(X) alone — fewer than k union elements sit below h, so h is
    * within X's k smallest whenever it is in X at all).  THE single
    * definition, shared by the batch query and the live monitor's
    * three-way report ([[graft.stream.LiveOverlapSketch.threeWayReportOf]]).
    *
    *   ρ_abc / k     estimates J(A∪B∪C vs A∩B∩C) — `jaccard3_bp`
    *   ρ_abc·|∪|est div k   estimates |A∩B∩C| — `est_abc`
    *   10⁴·ρ_abc div ρ_ab   estimates |A∩B∩C| / |A∩B| — `contain_ab_c_bp`,
    *     "how much of A∩B is also in C": the number c4's source-mixing
    *     weights need to avoid double-discounting mass shared across a
    *     source TRIPLE (pairwise overlap alone over-subtracts it twice);
    *     NULL when the A∩B evidence is empty (no containment to state).
    *
    * Triples where all three sketches are complete (< k distinct
    * shingles) take the EXACT branch — full-set arithmetic, which is how
    * the spec pins the estimator against plain set recounts with
    * equality.  All exact int64; replays bit-for-bit in DuckDB. */
  private[graft] def threeWayFromSketches(sk: DataFrame, K: Int,
      minPairJaccardBp: Long = 0L): DataFrame = {
    val km = (K - 1).toLong * graft.functions.CharFoldKernel.Prime
    // TRIPLE BUDGET GUARD (r13 verdict #6): plain enumeration is S³/6
    // rows — free at fleet-sized S, 1.6·10⁸ at S = 1000.  Above a
    // configured pairwise-Jaccard floor, triples are built FROM the
    // qualifying-pair relation instead (a triple all of whose pairwise
    // overlaps clear the floor has all three edges in it), so the
    // enumeration is bounded by qualifying-pair density, not S³.  The
    // floor defaults to 0 = today's exhaustive behavior and exact plan.
    val enumerated =
      if (minPairJaccardBp <= 0L)
        sk.select(col("source").as("src_a"), col("mins").as("ma"))
          .crossJoin(broadcast(
            sk.select(col("source").as("src_b"), col("mins").as("mb"))))
          .crossJoin(broadcast(
            sk.select(col("source").as("src_c"), col("mins").as("mc"))))
          .filter(col("src_a") < col("src_b") && col("src_b") < col("src_c"))
      else {
        val qp = overlapFromSketches(sk, K)
          .filter(col("jaccard_bp") >= minPairJaccardBp)
          .select(col("src_a"), col("src_b"))
        qp.join(broadcast(qp.select(col("src_a").as("src_b"),
            col("src_b").as("src_c"))), Seq("src_b"))
          .join(broadcast(qp.select(col("src_a"),
            col("src_b").as("src_c"))), Seq("src_a", "src_c"), "left_semi")
          .join(broadcast(sk.select(col("source").as("src_a"),
            col("mins").as("ma"))), Seq("src_a"))
          .join(broadcast(sk.select(col("source").as("src_b"),
            col("mins").as("mb"))), Seq("src_b"))
          .join(broadcast(sk.select(col("source").as("src_c"),
            col("mins").as("mc"))), Seq("src_c"))
      }
    enumerated
      .withColumn("la", size(col("ma")).cast("long"))
      .withColumn("lb", size(col("mb")).cast("long"))
      .withColumn("lc", size(col("mc")).cast("long"))
      .withColumn("exact", col("la") < K && col("lb") < K && col("lc") < K)
      .withColumn("uni",
        array_sort(array_distinct(concat(col("ma"), col("mb"), col("mc")))))
      .withColumn("u", slice(col("uni"), 1, K))
      .withColumn("iab", array_intersect(col("ma"), col("mb")))
      .withColumn("iabc", array_intersect(col("iab"), col("mc")))
      .withColumn("rho_ab", size(array_intersect(col("u"), col("iab"))).cast("long"))
      .withColumn("rho_abc", size(array_intersect(col("u"), col("iabc"))).cast("long"))
      .withColumn("n_ab",
        when(col("exact"), size(col("iab")).cast("long")).otherwise(col("rho_ab")))
      .withColumn("n_abc",
        when(col("exact"), size(col("iabc")).cast("long")).otherwise(col("rho_abc")))
      .withColumn("est_union", when(col("exact"), size(col("uni")).cast("long"))
        .otherwise(expr(s"$km div element_at(u, $K)")))
      .withColumn("est_abc", when(col("exact"), size(col("iabc")).cast("long"))
        .otherwise(expr(s"(rho_abc * est_union) div $K")))
      .withColumn("jaccard3_bp",
        when(col("exact"), expr("(10000 * size(iabc)) div size(uni)").cast("long"))
          .otherwise(expr(s"(10000 * rho_abc) div $K")))
      .withColumn("contain_ab_c_bp",
        when(col("n_ab") === 0, lit(null).cast("long"))
          .otherwise(expr("(10000 * n_abc) div n_ab")))
      .select(col("src_a"), col("src_b"), col("src_c"), col("exact"),
        col("est_union"), col("est_abc"), col("jaccard3_bp"),
        col("contain_ab_c_bp"))
      .orderBy(col("src_a"), col("src_b"), col("src_c"))
  }

  /** Three-way cross-source overlap — d17 extended to source TRIPLES on
    * the SAME persisted synopsis relation (no new corpus pass, no new
    * state: the sketch already supports k-way union by the pooled-mins
    * theorem, so the triple estimates are free at sketch-build time).
    * The containment column is the estimator c4's source-mixing weights
    * consume to avoid double-discounting mass shared across triples.
    * FULL value oracle, like d17. */
  val d18ThreeWayOverlap = NamedQuery(
    "d18_threeway_overlap",
    // `spark.graft.overlap.tripleMinPairJaccardBp` (default 0 = exhaustive,
    // the oracle's behavior): above the floor, triples enumerate from the
    // qualifying-pair relation instead of S³/6 — the budget guard a
    // hundreds-of-sources fleet sets before the cube gets real (the
    // driver never sets it; ThreeWayGuardSpec pins filtered ≡ exhaustive
    // above the floor)
    (s, dir) => threeWayFromSketches(overlapSketchRelation(s, dir), OverlapSketchK,
      s.conf.getOption("spark.graft.overlap.tripleMinPairJaccardBp")
        .map(_.toLong).getOrElse(0L)),
    Some(s"""WITH $overlapSketchCtes,
      triples AS (
        SELECT a.source AS src_a, b.source AS src_b, c.source AS src_c,
               a.mins AS ma, b.mins AS mb, c.mins AS mc,
               CAST(len(a.mins) AS BIGINT) AS la,
               CAST(len(b.mins) AS BIGINT) AS lb,
               CAST(len(c.mins) AS BIGINT) AS lc
        FROM mins a
        JOIN mins b ON a.source < b.source
        JOIN mins c ON b.source < c.source),
      arrs AS (
        SELECT src_a, src_b, src_c, la, lb, lc,
               la < $OverlapSketchK AND lb < $OverlapSketchK
                 AND lc < $OverlapSketchK AS ex,
               list_sort(list_distinct(ma || mb || mc)) AS uni,
               list_intersect(ma, mb) AS iab,
               list_intersect(list_intersect(ma, mb), mc) AS iabc
        FROM triples),
      calc AS (
        SELECT src_a, src_b, src_c, ex, uni, iab, iabc,
               CAST(len(list_intersect(uni[1:$OverlapSketchK], iab)) AS BIGINT) AS rho_ab,
               CAST(len(list_intersect(uni[1:$OverlapSketchK], iabc)) AS BIGINT) AS rho_abc,
               CASE WHEN ex THEN CAST(len(uni) AS BIGINT)
                    ELSE ${(OverlapSketchK - 1) * 1000000007L}
                         // uni[$OverlapSketchK] END AS est_union
        FROM arrs),
      calc2 AS (
        SELECT src_a, src_b, src_c, ex, uni, iab, iabc, rho_ab, rho_abc, est_union,
               CASE WHEN ex THEN CAST(len(iab) AS BIGINT) ELSE rho_ab END AS n_ab,
               CASE WHEN ex THEN CAST(len(iabc) AS BIGINT) ELSE rho_abc END AS n_abc
        FROM calc)
      SELECT src_a, src_b, src_c, ex AS exact,
        CAST(est_union AS BIGINT) AS est_union,
        CAST(CASE WHEN ex THEN len(iabc)
                  ELSE (rho_abc * est_union) // $OverlapSketchK END AS BIGINT) AS est_abc,
        CAST(CASE WHEN ex THEN (10000 * len(iabc)) // len(uni)
                  ELSE (10000 * rho_abc) // $OverlapSketchK END AS BIGINT) AS jaccard3_bp,
        CAST(CASE WHEN n_ab = 0 THEN NULL
                  ELSE (10000 * n_abc) // n_ab END AS BIGINT) AS contain_ab_c_bp
      FROM calc2 ORDER BY src_a, src_b, src_c"""),
    doc = "three-way cross-source overlap from the SAME per-source KMV " +
      "synopses as d17 (pooled k-mins theorem — no new corpus pass): " +
      "triple intersection/Jaccard estimates plus the A∩B-in-C " +
      "containment c4's mixing weights need to avoid double-discounting " +
      "shared mass across source triples; exact branch on complete " +
      "sketches, exact int64 throughout, FULLY value-oracled")

  /** EFFECTIVE (deduplicated) shingle mass per source — the c4 ← d17/d18
    * consumption loop (r13 verdict #1): inclusion–exclusion truncated at
    * depth 3 over the SAME sketch estimates,
    *
    *   eff(s) = est(s) − Σ_{t≠s} est_shared(s,t)
    *                   + Σ_{t<u; t,u≠s} est_abc(s,t,u)
    *
    * which counts a shingle of s held by m other sources with weight
    * 1 − m + C(m,2): mass unique to s counts once, mass shared with one
    * or two other sources counts ZERO (fully discounted — another source
    * also brings it), and the triple add-back is exactly what stops the
    * pairwise subtraction from double-discounting triple-shared mass
    * into the negatives.  Beyond m = 3 the truncation over-counts
    * (1−3+3 = 1 at m = 3) — the standard Bonferroni upper bound;
    * fleet-sized source counts rarely share 4-ways, and the greatest(0)
    * floor keeps estimator noise from going negative either way.
    *
    * Every input is the estimators' exact int64 output over the ONE
    * persisted synopsis relation — no new corpus pass; the pair/triple
    * relations are ≤ S²/S³ rows of a broadcast-sized input. */
  private[graft] def effectiveSourceMass(sk: DataFrame, K: Int): DataFrame = {
    val km = (K - 1).toLong * graft.functions.CharFoldKernel.Prime
    val singles = sk
      .withColumn("l", size(col("mins")).cast("long"))
      .withColumn("est_total", when(col("l") < K, col("l"))
        .otherwise(expr(s"$km div element_at(mins, $K)")))
      .select(col("source"), col("est_total"))
    val pairs = overlapFromSketches(sk, K)
      .select(explode(array(col("src_a"), col("src_b"))).as("source"),
        col("est_shared"))
      .groupBy(col("source")).agg(sum(col("est_shared")).as("pair_discount"))
    val triples = threeWayFromSketches(sk, K)
      .select(explode(array(col("src_a"), col("src_b"), col("src_c"))).as("source"),
        col("est_abc"))
      .groupBy(col("source")).agg(sum(col("est_abc")).as("triple_addback"))
    singles
      .join(broadcast(pairs), Seq("source"), "left")
      .join(broadcast(triples), Seq("source"), "left")
      .withColumn("pair_discount", coalesce(col("pair_discount"), lit(0L)))
      .withColumn("triple_addback", coalesce(col("triple_addback"), lit(0L)))
      .withColumn("eff_mass", greatest(
        col("est_total") - col("pair_discount") + col("triple_addback"), lit(0L)))
      .select(col("source"), col("est_total"), col("pair_discount"),
        col("triple_addback"), col("eff_mass"))
  }

  /** The DuckDB replay of [[effectiveSourceMass]], continuing
    * [[overlapSketchCtes]] (which ends at `mins(source, mins)`) — ends at
    * `eff(source, est_total, pair_discount, triple_addback, eff_mass)`.
    * The pair/triple arithmetic is the d17/d18 oracle chains verbatim,
    * reduced to the est_shared / est_abc columns c14 consumes. */
  private[graft] def effectiveMassCtes: String = {
    val K = OverlapSketchK
    val km = (K - 1).toLong * graft.functions.CharFoldKernel.Prime
    s"""singles AS (
        SELECT source,
          CASE WHEN len(mins) < $K THEN CAST(len(mins) AS BIGINT)
               ELSE $km // mins[$K] END AS est_total
        FROM mins),
      e_pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(len(a.mins) AS BIGINT) AS la, CAST(len(b.mins) AS BIGINT) AS lb,
               list_intersect(a.mins, b.mins) AS ab,
               list_sort(list_distinct(a.mins || b.mins)) AS uni
        FROM mins a JOIN mins b ON a.source < b.source),
      e_pcalc AS (
        SELECT src_a, src_b, ab,
               la < $K AND lb < $K AS ex,
               CAST(len(list_intersect(uni[1:$K], ab)) AS BIGINT) AS rho,
               CASE WHEN la < $K AND lb < $K THEN CAST(len(uni) AS BIGINT)
                    ELSE $km // uni[$K] END AS est_union
        FROM e_pairs),
      e_pshared AS (
        SELECT src_a, src_b,
               CAST(CASE WHEN ex THEN len(ab)
                         ELSE (rho * est_union) // $K END AS BIGINT) AS est_shared
        FROM e_pcalc),
      e_pdisc AS (
        SELECT source, CAST(sum(est_shared) AS BIGINT) AS pair_discount FROM (
          SELECT src_a AS source, est_shared FROM e_pshared
          UNION ALL SELECT src_b AS source, est_shared FROM e_pshared) u
        GROUP BY source),
      e_triples AS (
        SELECT a.source AS src_a, b.source AS src_b, c.source AS src_c,
               CAST(len(a.mins) AS BIGINT) AS la,
               CAST(len(b.mins) AS BIGINT) AS lb,
               CAST(len(c.mins) AS BIGINT) AS lc,
               list_sort(list_distinct(a.mins || b.mins || c.mins)) AS uni,
               list_intersect(list_intersect(a.mins, b.mins), c.mins) AS iabc
        FROM mins a
        JOIN mins b ON a.source < b.source
        JOIN mins c ON b.source < c.source),
      e_tcalc AS (
        SELECT src_a, src_b, src_c, iabc,
               la < $K AND lb < $K AND lc < $K AS ex,
               CAST(len(list_intersect(uni[1:$K], iabc)) AS BIGINT) AS rho_abc,
               CASE WHEN la < $K AND lb < $K AND lc < $K
                    THEN CAST(len(uni) AS BIGINT)
                    ELSE $km // uni[$K] END AS est_union
        FROM e_triples),
      e_tshared AS (
        SELECT src_a, src_b, src_c,
               CAST(CASE WHEN ex THEN len(iabc)
                         ELSE (rho_abc * est_union) // $K END AS BIGINT) AS est_abc
        FROM e_tcalc),
      e_tadd AS (
        SELECT source, CAST(sum(est_abc) AS BIGINT) AS triple_addback FROM (
          SELECT src_a AS source, est_abc FROM e_tshared
          UNION ALL SELECT src_b AS source, est_abc FROM e_tshared
          UNION ALL SELECT src_c AS source, est_abc FROM e_tshared) u
        GROUP BY source),
      eff AS (
        SELECT s.source, s.est_total,
               CAST(coalesce(p.pair_discount, 0) AS BIGINT) AS pair_discount,
               CAST(coalesce(t.triple_addback, 0) AS BIGINT) AS triple_addback,
               CAST(greatest(s.est_total - coalesce(p.pair_discount, 0)
                 + coalesce(t.triple_addback, 0), 0) AS BIGINT) AS eff_mass
        FROM singles s
        LEFT JOIN e_pdisc p ON p.source = s.source
        LEFT JOIN e_tadd t ON t.source = s.source)"""
  }

  /** Scale-adaptive exact-Jaccard pairs (both paths produce identical
    * results — proven by QueryPacksSpec in both scopes): for small corpora
    * the naive shingle join beats the prefix filter's extra shuffles; at
    * scale, quadratic blowup on frequent shingles dominates and the
    * prefix-filtered join is the only viable plan.  The input size alone
    * decides, from driver-side plan statistics (file-listing sizeInBytes
    * — no Spark job; round 1 ran a full count() action inside query
    * CONSTRUCTION); no conf overrides it ([[rejectPrefixFilterOverride]]). */
  def adaptiveJaccardPairs(s: SparkSession, dir: String, t: Double,
      global: Boolean = false, sh0: Option[DataFrame] = None): DataFrame = {
    rejectPrefixFilterOverride(s)
    val usePrefix = Tables.documents(s, dir).queryExecution.optimizedPlan
      .stats.sizeInBytes > (512L << 20) // ≈ a 500 k-doc switch
    if (usePrefix) jaccardPairsPrefixFiltered(s, dir, t, global, sh0)
    else shingleJaccardPairs(s, dir, global, sh0).filter(col("jaccard") >= t)
  }

  /** The prefix-filter override is retired: every value fails loudly at
    * each site that used to read it (here and the dup-graph memo keys). */
  private[queries] def rejectPrefixFilterOverride(s: SparkSession): Unit =
    RetiredConf.reject(s, "spark.graft.jaccard.prefixFilter")

  /** The distinct word-trigram shingle ARRAY of a token-array column —
    * THE single definition of the dedup tier's shingle set, shared by
    * the batch explode path ([[shingles]]) and the streaming scalar
    * band computation (`Dedup.bandValuesFor`): the live≡batch band
    * parity depends on both paths shingling identically, so neither may
    * restate this expression.  Caller guards `size(w) >= 3` (the
    * `greatest` keeps `sequence` from descending when it doesn't — the
    * expression stays total even under a lazily-guarded branch). */
  private[queries] def shingleArrayOf(w: Column): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(w) - 2, lit(1))),
      i => concat_ws(" ", element_at(w, i),
        element_at(w, i + 1), element_at(w, i + 2))))

  /** Shared shingle machinery: distinct word-trigram shingles per doc.
    * `n_sh` (the doc's distinct-shingle count) rides along scan-side —
    * it is the size of the array being exploded, so carrying it costs
    * one int per row and SAVES every consumer the per-doc count
    * aggregate plus the joins back (at 100 TB: a corpus-sized shuffle
    * and two corpus-sized joins that never need to exist).  Consumers
    * that don't read it prune it. */
  def shingles(s: SparkSession, dir: String): DataFrame = {
    // scale-adaptive scan spread (Tables.spreadSmallScan): the ~100×
    // shingle explosion below is the dedup tier's dominant per-task work,
    // and a single-row-group documents file would otherwise pin it to one
    // core (measured r18: d6 8.07 → 4.80 s, d10 3.91 → 1.73 s at sf0.1)
    val toks = Tables.spreadSmallScan(Tables.documents(s, dir), col("doc_id"))
      .filter(col("text").isNotNull && col("text") =!= "")
      .withColumn("w", tokens(col("text")))
      .filter(size(col("w")) >= 3)
    // PLAN-SHAPE TRAP, round-12 resolution: naming the shingle array as
    // an attribute and using plain explode() makes
    // InferFiltersFromGenerate add `size(sharr) > 0`, which pushes below
    // the `w` projection and inlines split() into every lambda
    // element_at — ~150 interpreted re-splits per document, a measured
    // 0.6 s → 8.8 s regression on this relation at sf0.1.  Round 11
    // therefore built the array TWICE inline (once for n_sh, once for
    // the generator) — ~0.4 s/sf0.1 of duplicate array construction
    // charged to every consumer.  explode_outer retires the trap: no
    // filter can be inferred for an OUTER generate, so the named
    // attribute is safe and the array builds ONCE (probe: shingle
    // relation 0.91 → 0.53 s, d10 3.40 → 2.98 s at sf0.1, byte-identical
    // output).  The outer semantics never fire: `size(w) >= 3` keeps
    // every array non-empty, so explode_outer ≡ explode here.
    toks.withColumn("sharr", shingleArrayOf(col("w")))
      .select(col("doc_id"), col("source"),
        size(col("sharr")).cast("long").as("n_sh"),
        explode_outer(col("sharr")).as("shingle"))
  }

  /** Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin prefix filter,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public literature):
    * identical output to the naive shingle join at threshold `t`, but the
    * candidate join runs only over each document's PREFIX — its
    * (n − ⌈t·n⌉ + 1) globally-rarest shingles.  If J(A,B) ≥ t the prefixes
    * must share a shingle, so no pair is lost; the quadratic blowup on
    * frequent shingles (the scale killer: a shingle shared by k docs costs
    * k² join rows) is cut to the rare tail.  This is the difference between
    * a set-similarity join that survives 100 TB and one that doesn't.
    */
  def jaccardPairsPrefixFiltered(s: SparkSession, dir: String, t: Double,
      global: Boolean = false, sh0: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `global=false` scopes pairs within `source` (the d2 semantics);
    // `global=true` joins across the whole corpus (the dedup-tier d6/c1
    // semantics) — the scope column set is the only difference.
    val scope = if (global) Seq.empty[String] else Seq("source")
    val scopedShingle = scope :+ "shingle"
    // MEMORY_AND_DISK, never MEMORY_ONLY: the exploded shingle set is ~10×
    // the corpus — it must spill to disk under pressure, not OOM, while
    // still serving the three downstream scans from memory when it fits.
    // A caller-supplied `sh0` (already persisted — e.g. d13's audit-shared
    // relation) is used as-is so the corpus shingles ONCE per audit.
    val sh = sh0.getOrElse(
      shingles(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // global rarity order within the join scope; n_sh rides the shingle
    // rows from the scan (see [[shingles]]) — no per-doc size aggregate
    // and no corpus-sized join back
    val freq = sh.groupBy(scopedShingle.map(col): _*)
      .agg(count(lit(1)).as("df"))
    val ranked = sh.join(freq, scopedShingle)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .withColumn("prefix_len", col("n_sh") - ceil(col("n_sh") * t) + 1)
    val prefix = ranked.filter(col("rn") <= col("prefix_len"))
      .select((scopedShingle :+ "doc_id" :+ "n_sh").map(col): _*)
    val cand = prefix.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "sa")
      .join(prefix.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "sb"),
        scopedShingle)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .distinct()
    // exact verification on the candidate set only
    val shA = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    cand.join(shA, "doc_a").join(shB, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / (col("sa") + col("sb") - col("n_inter")), 4))
      .filter(col("jaccard") >= t)
  }

  /** All same-source pairs with their exact shingle Jaccard (unfiltered).
    * Naive quadratic form — kept as the reference implementation for tests;
    * production path is [[jaccardPairsPrefixFiltered]]. */
  def shingleJaccardPairs(s: SparkSession, dir: String,
      global: Boolean = false, sh0: Option[DataFrame] = None): DataFrame = {
    val joinKeys = if (global) Seq("shingle") else Seq("source", "shingle")
    val sh = sh0.getOrElse(
      shingles(s, dir).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // n_sh rides the shingle rows from the scan (see [[shingles]]), so
    // the sizes become GROUP KEYS of the intersection count — no per-doc
    // aggregate, no joins back: two relations, one join, one aggregate.
    val a = sh.select(col("source"), col("doc_id").as("doc_a"),
      col("n_sh").as("sa"), col("shingle"))
    val b = sh.select(col("source"), col("doc_id").as("doc_b"),
      col("n_sh").as("sb"), col("shingle"))
    a.join(if (global) b.drop("source") else b, joinKeys)
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") / (col("sa") + col("sb") - col("n_inter")), 4))
  }

  /** Deterministic split assignment — shared by t8, c1, and c2: the first
    * hex digit of md5(doc_id || ":split") ranges into train (13/16),
    * valid (2/16), test (1/16). */
  private[queries] def splitCol: Column = {
    val h1 = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 1)
    when(h1 < "d", "train").when(h1 < "f", "valid").otherwise("test")
  }

  /** The same assignment as a SQL expression over a `doc_id` column. */
  private[queries] val splitCaseSql: String =
    """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1) < 'd' THEN 'train'
           WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1) < 'f' THEN 'valid'
           ELSE 'test' END"""

  // ---------------------------------------------------------------- t8
  /** Deterministic train/valid/test split — a training-data pipeline staple.
    * The split key is the first hex digit of md5(doc_id || ":split"):
    * '0'..'c' → train (13/16), 'd'..'e' → valid (2/16), 'f' → test (1/16).
    * Hash-based assignment is stable under repartitioning, resharding, and
    * incremental appends (the same doc always lands in the same split —
    * unlike rand()-based sampling), embarrassingly parallel, and exactly
    * reproducible in any engine with md5.  The salt suffix decorrelates this
    * split from any other md5-keyed logic (e.g. d1's fingerprint). */
  val t8TrainSplit = NamedQuery(
    "t8_train_split",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("split", splitCol)
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("source"))
    },
    Some(s"""SELECT $splitCaseSql AS split, source, count(*) AS n_docs
      FROM documents GROUP BY 1, 2 ORDER BY split, source"""),
    doc = "deterministic hash-based train/valid/test split (stable under reshuffles)")

  // ---------------------------------------------------------------- t9
  /** Distinctive-term extraction — the integer-rank variant of TF-IDF:
    * terms appearing in ≤5% of documents (low df) yet ≥5 times overall
    * (high tf), ranked by total frequency.  Same signal TF-IDF's
    * tf·log(N/df) ordering gives for rare terms, but in exact COUNT
    * arithmetic (`df * 20 <= n_docs`), so the oracle replays it
    * hash-identically — no ln() cross-engine ulp hazard.  At scale: one
    * shuffle on term for the stats, a 1-row broadcast for the corpus
    * size, TakeOrderedAndProject for the top-k. */
  val t9DistinctiveTerms = NamedQuery(
    "t9_distinctive_terms",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .filter(col("term") =!= "")
      val stats = toks.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      val total = toks.agg(countDistinct(col("doc_id")).as("n_docs"))
      stats.crossJoin(broadcast(total))
        .filter(col("df") * 20 <= col("n_docs") && col("tf") >= 5)
        .select(col("term"), col("df"), col("tf"))
        .orderBy(col("tf").desc, col("term"))
        .limit(20)
    },
    Some(raw"""WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      tok2 AS (SELECT * FROM tok WHERE term <> ''),
      stats AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
                FROM tok2 GROUP BY term),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok2)
      SELECT term, df, tf FROM stats, n
      WHERE df * 20 <= n_docs AND tf >= 5
      ORDER BY tf DESC, term LIMIT 20"""),
    doc = "distinctive terms (rare-across-docs, frequent overall) — integer-exact TF-IDF " +
      "rank; on the 31-term synthetic corpus this surfaces exactly the planted dup marker")

  // ---------------------------------------------------------------- t10
  /** Gopher-style repetition signals (Rae et al. 2021, public literature —
    * the "repetitious text" quality filters): per-doc duplicate-word
    * fraction and most-frequent-bigram fraction, thresholded in EXACT
    * integer cross-multiplication (`dups·10⁴ ≥ 2000·n_words` ⟺ fraction
    * ≥ 0.2) so the oracle never touches a float, and rolled up per source.
    * At scale: the per-doc bigram mode is one explode + one
    * (doc_id, bigram) count with map-side combine + one max per doc —
    * shuffles proportional to distinct bigrams, the standard shape; the
    * word-level signals are pure per-row column math. */
  val t10Repetition = NamedQuery(
    "t10_repetition",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      // Single pass, no self-join: the per-doc scalars ride through both
      // aggregation levels as first() (constant within a doc's group), so
      // the documents scan + tokenization runs once and nothing re-joins
      // on doc_id.  Two shuffles total: (doc_id, bigram) then doc_id;
      // the final per-source rollup rides the doc_id partitioning.
      val exploded = Tables.spreadSmallScan(Tables.documents(s, dir), col("doc_id"))
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("w"))).cast("long"))
        .withColumn("bg", call_function("graft_bigrams", col("w")))
        .withColumn("n_bg", size(col("bg")).cast("long"))
        .select(col("doc_id"), col("source"), col("n_words"),
          col("n_distinct"), col("n_bg"), explode(col("bg")).as("b"))
      exploded
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("c"), first(col("source")).as("source"),
          first(col("n_words")).as("n_words"),
          first(col("n_distinct")).as("n_distinct"),
          first(col("n_bg")).as("n_bg"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_bg"), first(col("source")).as("source"),
          first(col("n_words")).as("n_words"),
          first(col("n_distinct")).as("n_distinct"),
          first(col("n_bg")).as("n_bg"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when((col("n_words") - col("n_distinct")) * 10000 >= col("n_words") * 2000, 1L)
            .otherwise(0L)).as("n_rep_words"),
          sum(when(col("top_bg") * 10000 >= col("n_bg") * 1800, 1L)
            .otherwise(0L)).as("n_rep_bigrams"))
        .orderBy(col("source"))
    },
    Some(raw"""WITH tok AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      base AS (
        SELECT doc_id, source, len(w) AS n_words, len(list_distinct(w)) AS n_distinct,
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
        FROM tok WHERE len(w) >= 2),
      bgc AS (SELECT doc_id, max(c) AS top_bg FROM (
                SELECT doc_id, b, count(*) AS c FROM (
                  SELECT doc_id, unnest(bg) AS b FROM base) u
                GROUP BY doc_id, b) g
              GROUP BY doc_id),
      j AS (SELECT base.source, base.n_words, base.n_distinct,
                   len(base.bg) AS n_bg, bgc.top_bg
            FROM base JOIN bgc USING (doc_id))
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN (n_words - n_distinct) * 10000 >= n_words * 2000
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_words,
        CAST(sum(CASE WHEN top_bg * 10000 >= n_bg * 1800
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep_bigrams
      FROM j GROUP BY source ORDER BY source"""),
    doc = "Gopher-style repetition filters (dup-word + top-bigram fractions), " +
      "integer-exact thresholds, per-source rollup; oracle-checked")

  // ---------------------------------------------------------------- t16
  /** Bigram-LM surprisal scoring — the self-supervised PERPLEXITY-proxy
    * quality filter (Wenzek et al., "CCNet", LREC 2020, public
    * literature, filter corpora by language-model perplexity; the
    * distributed in-corpus form trains the LM on the corpus itself):
    * every bigram's transition probability is estimated from corpus
    * counts, a document's score is its mean transition probability, and
    * documents dominated by RARE transitions (≥20% of bigrams at
    * ≤ 1% head-conditional probability) are flagged — word salad, OCR
    * shred and boilerplate-free gibberish that t3's surface heuristics
    * (length/punct ratios) cannot see.  Everything stays exact integer:
    * p_bp = c(w1,w2)·10⁴ DIV c(w1·) in basis points (c(w1·) counts w1 as
    * a bigram HEAD, so probabilities sum to ~10⁴ per head and no
    * end-of-doc off-by-one exists), doc mean = sum DIV count, thresholds
    * in cross-multiplication — DuckDB replays every value.
    *
    * Scale shape — why joins, not count-over-window, and what absorbs
    * the Zipf skew of natural-language bigram heads (T16SkewSpec plants
    * a 40%-mass head and checks each claim):
    *   1. the two count aggregations shuffle map-side-combined partial
    *      rows, so a hot head reaches its reducer as ≤ one row per map
    *      task — the planted skew measurably VANISHES from the exchange
    *      (even partition bytes);
    *   2. the joins-back broadcast the aggregated, vocab-sized count
    *      relations — statically below autoBroadcastJoinThreshold at
    *      audit SF (what PlanAudit's pre-AQE explain gates), and by
    *      AQE's runtime re-plan when static size estimates overshoot at
    *      larger SFs — so hot-head fact rows are probed in place, data-
    *      parallel; no reducer ever owns "the", and the fact relation is
    *      never re-shuffled at all.  A count-over-window form would
    *      co-locate EVERY bigram row per head — the hot reducer is
    *      unavoidable there, with no partial-agg or broadcast remedy;
    *   3. if the bigram vocabulary ever outgrew broadcast, the equi-join
    *      form still degrades gracefully (salt the join key); note the
    *      fused aggregate below each join side structurally excludes
    *      AQE's OptimizeSkewedJoin (it needs plain shuffle reads under
    *      the join), so salting — not skew-split — is the named fallback.
    * Then one doc rollup and a tiny source rollup.  All linear in corpus
    * bigrams; no driver-side model state — the "LM" lives in the two
    * count relations. */
  val t16BigramSurprisal = NamedQuery(
    "t16_bigram_surprisal",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val bh = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(call_function("graft_bigrams", col("w"))).as("b"))
        .withColumn("h", substring_index(col("b"), " ", 1))
      val c2 = bh.groupBy(col("b")).agg(count(lit(1)).as("c2"))
      val c1 = bh.groupBy(col("h")).agg(count(lit(1)).as("c1"))
      bh.join(c2, "b").join(c1, "h")
        .withColumn("p_bp", expr("c2 * 10000 DIV c1"))
        // source rides as a grouping key (functionally dependent on
        // doc_id) — a first() aggregate here would demote the rollup
        // from HashAggregate to SortAggregate
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_bg"),
          expr("sum(p_bp) DIV count(1)").as("avg_bp"),
          sum(when(col("p_bp") <= 100, 1L).otherwise(0L)).as("n_rare"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(avg_bp) DIV count(1)").as("mean_doc_bp"),
          sum(when(col("n_rare") * 10000 >= col("n_bg") * 2000, 1L)
            .otherwise(0L)).as("n_surprising"))
        .orderBy(col("source"))
    },
    Some(raw"""WITH tok AS (
        SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      bg AS (
        SELECT doc_id, source,
          unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        FROM tok WHERE len(w) >= 2),
      bh AS (SELECT doc_id, source, b, split_part(b, ' ', 1) AS h FROM bg),
      c2 AS (SELECT b, count(*) AS c2 FROM bh GROUP BY b),
      c1 AS (SELECT h, count(*) AS c1 FROM bh GROUP BY h),
      p AS (SELECT doc_id, source, c2.c2 * 10000 // c1.c1 AS p_bp
            FROM bh JOIN c2 USING (b) JOIN c1 USING (h)),
      d AS (SELECT doc_id, source, count(*) AS n_bg,
              CAST(sum(p_bp) AS BIGINT) // count(*) AS avg_bp,
              CAST(sum(CASE WHEN p_bp <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
            FROM p GROUP BY doc_id, source)
      SELECT source, count(*) AS n_docs,
        CAST(sum(avg_bp) AS BIGINT) // count(*) AS mean_doc_bp,
        CAST(sum(CASE WHEN n_rare * 10000 >= n_bg * 2000 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_surprising
      FROM d GROUP BY source ORDER BY source"""),
    doc = "bigram-LM surprisal quality scoring (perplexity-proxy filter): " +
      "integer basis-point transition probabilities from corpus counts, " +
      "per-doc mean + rare-transition flag, per-source rollup; FULL value oracle")

  // ---------------------------------------------------------------- c1
  /** The flagship training-data curation pipeline, composed end-to-end from
    * the pack's tiers: quality-filter (t3's score ≥ 0.5) → language-filter
    * (t2's predictor = 'en') → near-dup removal (anti-join against d6's
    * non-keeper drop set) → deterministic split assignment (t8) → corpus
    * budget per split (docs + tokens).  This is the query a 100 TB
    * pre-training corpus actually runs: three embarrassingly-parallel
    * scans' worth of column math fused into one, a single anti-join against
    * the (small) drop set — broadcast at any realistic dup rate — and a
    * 3-row aggregate.  Fully oracle-checked, including the recursive-CTE
    * replay of the cluster labels. */
  val c1CorpusCuration = NamedQuery(
    "c1_corpus_curation",
    (s, dir) => {
      // compose the SAME building blocks t3 and t2 are built from — no
      // re-stated formulas that could drift from the tier queries
      val scored = withLangPred(withQualitySignals(Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")))
      val dropSet = Dedup.clusterLabels(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      scored
        .filter(col("quality") >= 0.5 && col("lang_pred") === "en")
        .join(dropSet, Seq("doc_id"), "left_anti")
        .withColumn("split", splitCol)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"))
        .orderBy(col("split"))
    },
    Some(s"""WITH RECURSIVE ${Dedup.dupGraphCteSql},
      dropset AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
      scored AS (
        SELECT q.doc_id, q.n_tokens, $qualityExprSql AS quality, l.lang_pred
        FROM ($qualitySignalsSubSql) q
        JOIN ($langPredSubSql) l ON l.doc_id = q.doc_id),
      kept AS (
        SELECT * FROM scored
        WHERE quality >= 0.5 AND lang_pred = 'en'
          AND doc_id NOT IN (SELECT doc_id FROM dropset))
      SELECT $splitCaseSql AS split,
        count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM kept GROUP BY 1 ORDER BY split"""),
    doc = "end-to-end corpus curation: quality + lang filters, near-dup drop, split budget")

  // ---------------------------------------------------------------- c2
  /** Benchmark decontamination — the check every training-data pipeline
    * runs before publishing an eval split: held-out (valid/test) documents
    * whose normalized fingerprint also appears in train are CONTAMINATED
    * (the model would see the eval text during training).  One semi-join
    * of the held-out set against the distinct train fingerprints — at
    * 100 TB the train side reduces to distinct md5s (32 bytes/doc) before
    * the join, and the join key is the fingerprint, so this is a single
    * hash-shuffle over hashes, never over text. */
  /** Tokenizer-vocabulary coverage / OOV analysis — after inducing a
    * vocabulary from the train split (top-K tokens by frequency), what
    * fraction of each language's token stream falls outside it?  The
    * production question behind tokenizer sizing and language balance.
    * K is deliberately below the synthetic corpus's 31-token vocabulary
    * so the OOV path is exercised (on real data K would be 32k–256k;
    * the shape is identical).  Scale: vocab is a TakeOrderedAndProject
    * over token counts, then BROADCAST to the token stream (a vocab is
    * small by construction) — no shuffle of the corpus for membership;
    * OOV rate in exact integer basis points. */
  private val VocabK = 24

  val t13VocabOov = NamedQuery(
    "t13_vocab_oov",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("lang"),
          explode(tokens(lower(col("text")))).as("term"))
        .filter(col("term") =!= "")
      val vocab = toks.withColumn("split", splitCol)
        .filter(col("split") === "train")
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(VocabK)
        .select(col("term"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          (count(lit(1)) - count(col("in_v"))).as("n_oov"))
        .withColumn("oov_bp", expr("n_oov * 10000 DIV n_tokens"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH tok AS (
        SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      tok2 AS (SELECT * FROM tok WHERE term <> ''),
      vocab AS (
        SELECT term FROM (
          SELECT term, count(*) AS n FROM tok2
          WHERE $splitCaseSql = 'train'
          GROUP BY term ORDER BY n DESC, term LIMIT $VocabK) v),
      j AS (
        SELECT t.lang, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok2 t LEFT JOIN vocab v ON t.term = v.term)
      SELECT lang, count(*) AS n_tokens,
        CAST(sum(oov) AS BIGINT) AS n_oov,
        (CAST(sum(oov) AS BIGINT) * 10000) // count(*) AS oov_bp
      FROM j GROUP BY lang ORDER BY lang"""),
    doc = "train-split top-K vocabulary induction + per-language OOV rate " +
      "(integer basis points); broadcast membership join")

  // ---------------------------------------------------------------- t17
  /** Vocabulary-truncation scrub — EXECUTES t13's vocabulary plan the way
    * c5 executes c4's mixing plan: every token outside the train-induced
    * top-K vocabulary is rewritten to `<unk>` and the document is
    * re-materialized, byte-exactly (md5 of the rebuilt token stream, the
    * t11 convention) — the closed-vocab corpus build step behind
    * fixed-vocabulary tokenizers, where t13 only MEASURES the OOV rate
    * this materializes.
    *
    * Scale shape: the vocab is a TakeOrderedAndProject over token counts
    * BROADCAST to the stream (no corpus shuffle for membership — same
    * plan as t13); the rebuild is one (doc_id) shuffle carrying (pos,
    * token) pairs with the reassembly inside the aggregate
    * (`array_sort(collect_list(struct(pos, tok)))` — order-independent
    * of partitioning, so the md5 is deterministic on any cluster). */
  val t17VocabScrub = NamedQuery(
    "t17_vocab_scrub",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"),
          posexplode(tokens(lower(col("text")))).as(Seq("pos", "term")))
        .filter(col("term") =!= "")
      val vocab = toks.withColumn("split", splitCol)
        .filter(col("split") === "train")
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(VocabK)
        .select(col("term"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .select(col("doc_id"), col("pos"), col("in_v"),
          when(col("in_v").isNull, lit("<unk>")).otherwise(col("term")).as("tok2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          (count(lit(1)) - count(col("in_v"))).as("n_unk"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("tok2")))),
            x => x.getField("tok2")))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tok0 AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      tok AS (
        SELECT doc_id, unnest(range(len(w))) AS pos, unnest(w) AS term FROM tok0),
      tok2 AS (SELECT * FROM tok WHERE term <> ''),
      vocab AS (
        SELECT term FROM (
          SELECT term, count(*) AS n FROM tok2
          WHERE $splitCaseSql = 'train'
          GROUP BY term ORDER BY n DESC, term LIMIT $VocabK) v),
      j AS (
        SELECT t.doc_id, t.pos,
          CASE WHEN v.term IS NULL THEN '<unk>' ELSE t.term END AS tok2,
          CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok2 t LEFT JOIN vocab v ON t.term = v.term)
      SELECT doc_id, count(*) AS n_tokens,
        CAST(sum(oov) AS BIGINT) AS n_unk,
        md5(string_agg(tok2, ' ' ORDER BY pos)) AS scrub_md5
      FROM j GROUP BY doc_id ORDER BY doc_id"""),
    doc = "closed-vocabulary corpus build: OOV tokens → <unk> against the " +
      "train-induced top-K vocabulary (t13's plan, executed), byte-exact " +
      "rebuilt-text md5 per document")

  // ---------------------------------------------------------------- t18
  /** Document-level token co-occurrence with an integer PMI-rank score —
    * the collocation/topic-signal query a social tracker runs over its
    * corpus ("which terms travel together?"), and the doc-level
    * complement of t16's adjacent-bigram surprisal.
    *
    * PMI = log(N·c_ab/(c_a·c_b)) is monotone in the ratio, so ranking by
    * the integer `floor(c_ab·N·10⁴/(c_a·c_b))` reproduces the PMI order
    * with no cross-engine log() drift — every operand is an exact
    * integer, the one division is IEEE-correctly-rounded on identical
    * inputs in both engines, and floor lands on the same value.
    *
    * Scale shape: pairing the full vocabulary is Θ(tokens²) per doc —
    * never run corpus-wide.  The candidate vocabulary (top
    * [[CoocVocab]] by doc frequency) BROADCASTS to the distinct
    * doc-token stream, so the pair stage's per-doc fan-out is bounded by
    * C(|vocab∩doc|, 2) regardless of corpus size; the pair self-join
    * shuffles on doc_id once, pair counts map-side-combine on their own
    * key, and the final top-k is a TakeOrderedAndProject, not a global
    * sort.  A support floor (c_ab ≥ [[CoocMinSupport]]) keeps
    * rare-pair noise out of the ranking, the standard collocation
    * hygiene. */
  private val CoocVocab = 200
  private val CoocMinSupport = 5

  val t18Cooccurrence = NamedQuery(
    "t18_cooccurrence",
    (s, dir) => {
      val toks = Tables.spreadSmallScan(Tables.documents(s, dir), col("doc_id"))
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
        .distinct()
      val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val vocab = df.orderBy(col("c").desc, col("tok")).limit(CoocVocab)
      val nd = toks.agg(countDistinct(col("doc_id")).as("nd"))
      val vt = toks.join(broadcast(vocab), Seq("tok"))
      vt.select(col("doc_id"), col("tok").as("ta"), col("c").as("ca"))
        .join(vt.select(col("doc_id"), col("tok").as("tb"), col("c").as("cb")),
          Seq("doc_id"))
        .filter(col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb"), col("ca"), col("cb"))
        .agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= CoocMinSupport)
        .crossJoin(broadcast(nd))
        .withColumn("pmi_score",
          floor(col("cab") * col("nd") * lit(10000L) / (col("ca") * col("cb"))))
        .select(col("ta"), col("tb"), col("cab"), col("pmi_score"))
        .orderBy(col("pmi_score").desc, col("ta"), col("tb"))
        .limit(50)
    },
    Some(s"""WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM documents, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS u(tok)
        WHERE text IS NOT NULL AND text <> ''),
      df AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      n AS (SELECT count(DISTINCT doc_id) AS nd FROM toks),
      vocab AS (SELECT tok, c FROM df ORDER BY c DESC, tok LIMIT $CoocVocab),
      vt AS (SELECT t.doc_id, t.tok, v.c FROM toks t JOIN vocab v USING (tok)),
      pairs AS (
        SELECT a.tok AS ta, b.tok AS tb, a.c AS ca, b.c AS cb, count(*) AS cab
        FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2, 3, 4 HAVING count(*) >= $CoocMinSupport)
      SELECT ta, tb, cab, CAST(floor(cab * nd * 10000 / (ca * cb)) AS BIGINT) AS pmi_score
      FROM pairs, n
      ORDER BY pmi_score DESC, ta, tb LIMIT 50"""),
    doc = "token co-occurrence collocations: integer PMI-rank score over " +
      "broadcast top-200 vocabulary, support floor, top-50; FULL value oracle")

  /** N-gram-level train/eval decontamination — the finer-grained sibling
    * of c2: c2 catches VERBATIM document reuse (whole-doc fingerprints);
    * this catches PARTIAL leakage, where a training document contains an
    * 8-token span that also appears in a held-out document (the n-gram
    * contamination check from the public LLM-eval literature, e.g. the
    * 13-gram overlap scans in GPT-3/PaLM-style decontamination —
    * re-expressed over [[Dedup.spanKeys]]'s shared span relation).  For
    * each eval split: how many train docs leak into it, and through how
    * many distinct spans.  Scale shape: both sides pre-distinct, one
    * equi-join on the 8-byte span key, one aggregate — never a join on
    * text. */
  val c7NgramDecontamination = NamedQuery(
    "c7_ngram_decontamination",
    (s, dir) => {
      val ks = Dedup.spanKeys(s, dir).withColumn("split", splitCol)
      val evalK = ks.filter(col("split") =!= "train")
        .select(col("split"), col("h"), col("ln")).distinct()
      val trainK = ks.filter(col("split") === "train")
        .select(col("doc_id"), col("h"), col("ln")).distinct()
      trainK.join(evalK, Seq("h", "ln"))
        .groupBy(col("split"))
        .agg(countDistinct(col("doc_id")).as("n_leaky_train_docs"),
          countDistinct(concat_ws(":", col("h"), col("ln"))).as("n_shared_spans"))
        .orderBy(col("split"))
    },
    Some(s"""WITH ${Dedup.spanKeyCteSql},
      ks AS (SELECT doc_id, h, ln, $splitCaseSql AS split FROM k),
      ev AS (SELECT DISTINCT split, h, ln FROM ks WHERE split <> 'train'),
      tr AS (SELECT DISTINCT doc_id, h, ln FROM ks WHERE split = 'train'),
      hit AS (SELECT ev.split, tr.doc_id, ev.h, ev.ln
              FROM tr JOIN ev USING (h, ln))
      SELECT split, count(DISTINCT doc_id) AS n_leaky_train_docs,
        count(DISTINCT CAST(h AS VARCHAR) || ':' || CAST(ln AS VARCHAR)) AS n_shared_spans
      FROM hit GROUP BY split ORDER BY split"""),
    doc = "n-gram-level eval decontamination: train docs sharing an 8-token span " +
      "with a held-out split; span-key join, never text")

  val c2Contamination = NamedQuery(
    "c2_contamination",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("fp", normFingerprint(col("text")))
        .withColumn("split", splitCol)
      val trainFps = docs.filter(col("split") === "train")
        .select(col("fp")).distinct()
      val heldOut = docs.filter(col("split") =!= "train")
      val contaminated = heldOut.join(trainFps, Seq("fp"), "left_semi")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_contaminated"),
          countDistinct(col("fp")).as("n_fps"))
      heldOut.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(contaminated, Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"))
        .orderBy(col("split"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
               $splitCaseSql AS split
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      train_fps AS (SELECT DISTINCT fp FROM docs WHERE split = 'train'),
      held AS (SELECT * FROM docs WHERE split <> 'train'),
      contaminated AS (
        SELECT split, count(*) AS n_contaminated, count(DISTINCT fp) AS n_fps
        FROM held WHERE fp IN (SELECT fp FROM train_fps)
        GROUP BY split)
      SELECT h.split, h.n_docs,
        coalesce(c.n_contaminated, 0) AS n_contaminated,
        coalesce(c.n_fps, 0) AS n_fps
      FROM (SELECT split, count(*) AS n_docs FROM held GROUP BY split) h
      LEFT JOIN contaminated c ON c.split = h.split
      ORDER BY h.split"""),
    doc = "train/eval decontamination: held-out docs sharing a train fingerprint")

  // ------------------------------------------------------------------
  // t11 / t12 — PII scrub and URL/domain extraction.  The corpus tables
  // are synthetic and clean, so (the a7 null-repair pattern) the fixture
  // PLANTS the dirt deterministically from existing columns, then the
  // operator under test removes/extracts it.  Patterns avoid \b and
  // lookaround so the Java-regex and RE2 (DuckDB) dialects match
  // identically; replacement runs email → phone → IP so no later pattern
  // can match inside an earlier placeholder.
  // ------------------------------------------------------------------
  private[queries] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"
  private[queries] val Ipv4Re  = "(\\d{1,3}\\.){3}\\d{1,3}"

  /** Deterministically planted PII suffix (Spark side); shared with the
    * residual-scrub spec. */
  private[queries] def plantPii(): Column = {
    val id = col("doc_id")
    concat(
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@"), col("source"), lit(".example.com"))).otherwise(lit("")),
      when(id % 4 === 0, concat(lit(" call 555-"),
        lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((id * 7919) % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" from 10."),
        (id % 256).cast("string"), lit("."),
        ((id * 31) % 256).cast("string"), lit("."),
        ((id * 17) % 256).cast("string"))).otherwise(lit("")))
  }

  /** The identical planted suffix as DuckDB SQL. */
  private val plantPiiSql: String =
    """CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
             || '@' || source || '.example.com' ELSE '' END ||
       CASE WHEN doc_id % 4 = 0 THEN ' call 555-'
             || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
             || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
       CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
             || CAST(doc_id % 256 AS VARCHAR) || '.'
             || CAST((doc_id * 31) % 256 AS VARCHAR) || '.'
             || CAST((doc_id * 17) % 256 AS VARCHAR) ELSE '' END"""

  /** PII redaction — a first-class training-data curation step: count and
    * scrub emails / phone numbers / IPv4s.  Pure `regexp_*` builtins, so
    * the whole scrub stays inside whole-stage codegen and is
    * embarrassingly parallel (no shuffle at all before the ordered
    * output).  The scrubbed text is compared by md5 (lowercase hex in
    * both engines), which pins EVERY byte of the redaction, not just the
    * counts; a spec additionally asserts no pattern survives the scrub. */
  val t11PiiScrub = NamedQuery(
    "t11_pii_scrub",
    (s, dir) => {
      val dirty = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), concat(col("text"), plantPii()).as("t"))
      dirty.select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0))).as("n_ips"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH dirty AS (
        SELECT doc_id, text || $plantPiiSql AS t
        FROM documents WHERE text IS NOT NULL AND text <> '')
      SELECT doc_id,
        CAST(len(regexp_extract_all(t, '$EmailRe')) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INTEGER) AS n_phones,
        CAST(len(regexp_extract_all(t, '$Ipv4Re')) AS INTEGER) AS n_ips,
        md5(regexp_replace(regexp_replace(regexp_replace(t,
          '$EmailRe', '<EMAIL>', 'g'),
          '$PhoneRe', '<PHONE>', 'g'),
          '$Ipv4Re', '<IP>', 'g')) AS scrub_md5
      FROM dirty ORDER BY doc_id"""),
    doc = "PII redaction (emails/phones/IPv4): counts + byte-exact scrubbed-text " +
      "md5; planted deterministically, zero-shuffle scan-side scrub")

  /** URL → domain extraction + top-k domain ranking — the link-graph /
    * source-attribution step of a web-corpus pipeline.  Group-1 regexp
    * extraction (scheme stripped in the match itself), explode, hash-agg,
    * TakeOrderedAndProject. */
  val t12UrlDomains = NamedQuery(
    "t12_url_domains",
    (s, dir) => {
      val id = col("doc_id")
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (id % 3).cast("int") + 1)
      val planted = concat(
        when(id % 2 === 0, concat(lit(" see https://"), col("source"),
          lit("."), tld, lit("/p/"), id.cast("string"))).otherwise(lit("")),
        when(id % 7 === 0, concat(lit(" via http://cdn"),
          (id % 5).cast("string"), lit(".example.net/a/"), id.cast("string")))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), concat(col("text"), planted).as("t"))
        .select(explode(regexp_extract_all(col("t"),
          lit("https?://([^/ ]+)"), lit(1))).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("domain"))
        .limit(10)
    },
    Some("""WITH dirty AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 2 = 0 THEN ' see https://' || source || '.' ||
            (['com', 'org', 'net'])[CAST(doc_id % 3 AS INT) + 1] || '/p/' || CAST(doc_id AS VARCHAR)
            ELSE '' END ||
          CASE WHEN doc_id % 7 = 0 THEN ' via http://cdn' || CAST(doc_id % 5 AS VARCHAR)
            || '.example.net/a/' || CAST(doc_id AS VARCHAR) ELSE '' END AS t
        FROM documents WHERE text IS NOT NULL AND text <> '')
      SELECT domain, count(*) AS n
      FROM (SELECT unnest(regexp_extract_all(t, 'https?://([^/ ]+)', 1)) AS domain
            FROM dirty) d
      GROUP BY domain ORDER BY n DESC, domain LIMIT 10"""),
    doc = "URL domain extraction + top-10 (group-1 regexp, explode → hash-agg → top-k)")

  // ---------------------------------------------------------------- t14
  /** Token frequency spectrum in power-of-two bands: how many distinct
    * corpus types occur 1, 2–3, 4–7, … times — the Zipf/Good-Turing
    * frequency-of-frequencies table (Gale & Sampson, "Good-Turing
    * Frequency Estimation Without Tears", 1995, public literature) with
    * log₂ banding so the output is ~log(max freq) rows at any corpus
    * size.  The band id is `length(bin(freq))` — the integer's binary
    * digit count, an EXACT integer in both engines (no log() floats
    * anywhere).  Scale shape: two hash aggregations — token counts
    * (map-side combined, the a4 plan) then the tiny band rollup. */
  val t14FreqSpectrum = NamedQuery(
    "t14_freq_spectrum",
    (s, dir) => {
      val tf = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(explode(tokens(lower(col("text")))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
      tf.select(length(bin(col("freq"))).as("band"), col("freq"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_types"),
          min(col("freq")).as("lo_freq"),
          max(col("freq")).as("hi_freq"))
        .orderBy(col("band"))
    },
    Some("""WITH tf AS (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
              FROM documents WHERE text IS NOT NULL AND text <> '') t
        GROUP BY tok)
      SELECT CAST(length(bin(freq)) AS INT) AS band, count(*) AS n_types,
        min(freq) AS lo_freq, max(freq) AS hi_freq
      FROM tf GROUP BY band ORDER BY band"""),
    doc = "Zipf frequency spectrum: distinct types per power-of-two frequency " +
      "band (band = binary digit count of freq — exact integers, no logs)")

  // ---------------------------------------------------------------- t15
  /** Edit-distance-1 token pairs via the SymSpell deletion-neighborhood
    * join (Garbe, public algorithm; same family as the spelling-
    * correction indexes behind search engines): every vocabulary token
    * emits itself plus its single-character deletions as join keys, and
    * any two tokens within edit distance 1 provably share a key — so the
    * candidate set comes from an EQUI-join on short strings, never an
    * all-pairs scan, and an exact `levenshtein ≤ 1` filter removes the
    * (rare) distance-2 collisions.  The typo-pair relation is what a
    * corpus-cleaning pipeline feeds into token canonicalization (OCR
    * noise, misspellings).  At 100 TB: |keys| ≈ (avg_len+1)·|vocab|,
    * shuffled on the key — linear, like d3's banding.  The corpus
    * carries no natural typos at any SF, so they are PLANTED
    * deterministically (the t11/t12 recipe): docs with doc_id % 7 == 0
    * append their first token with its head character swapped to 'x',
    * identically in both engines. */
  val t15TypoPairs = NamedQuery(
    "t15_typo_pairs",
    (s, dir) => {
      val dirty = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(concat(trim(lower(col("text"))),
          when(col("doc_id") % 7 === 0,
            concat(lit(" x"),
              expr("substring(element_at(split(trim(lower(text)), '\\\\s+'), 1), 2)")))
            .otherwise(lit(""))).as("t"))
      val vocab = dirty
        .select(explode(split(col("t"), "\\s+")).as("tok"))
        // ASCII-only vocab: the pair orientation below uses string '<',
        // which Spark resolves in UTF-8 byte order but DuckDB (and the
        // brute-force spec) compare by code points / UTF-16 units — the
        // three orderings coincide exactly on printable ASCII, so
        // supplementary-plane tokens (emoji in fixtures) are excluded
        // rather than risking a swapped (tok_a, tok_b) across engines.
        .filter(length(col("tok")) >= 4 && col("tok").rlike("^[!-~]+$"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"))
      val keys = vocab.select(col("tok"), col("freq"),
        explode(array_distinct(concat(array(col("tok")), expr(
          "transform(sequence(1, length(tok)), p -> concat(left(tok, p - 1), substring(tok, p + 1)))"))))
          .as("k"))
      val a = keys.select(col("k"), col("tok").as("tok_a"), col("freq").as("freq_a"))
      val b = keys.select(col("k"), col("tok").as("tok_b"), col("freq").as("freq_b"))
      a.join(b, Seq("k"))
        .filter(col("tok_a") < col("tok_b"))
        .select(col("tok_a"), col("tok_b"), col("freq_a"), col("freq_b"))
        .distinct()
        .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
        .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
        .select(col("tok_a"), col("tok_b"), col("dist"), col("freq_a"), col("freq_b"))
        .orderBy(col("tok_a"), col("tok_b"))
    },
    Some("""WITH dirty AS (
        SELECT lower(trim(text)) ||
          CASE WHEN doc_id % 7 = 0
            THEN ' x' || substr(regexp_split_to_array(trim(lower(text)), '\s+')[1], 2)
            ELSE '' END AS t
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      vocab AS (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest(regexp_split_to_array(t, '\s+')) AS tok FROM dirty) u
        WHERE length(tok) >= 4 AND regexp_matches(tok, '^[!-~]+$') GROUP BY tok),
      keys AS (
        SELECT tok, freq, unnest(list_distinct(list_prepend(tok, list_transform(
          range(1, length(tok) + 1),
          p -> left(tok, CAST(p AS INT) - 1) || substr(tok, CAST(p AS INT) + 1))))) AS k
        FROM vocab),
      cand AS (
        SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b,
          a.freq AS freq_a, b.freq AS freq_b
        FROM keys a JOIN keys b ON a.k = b.k AND a.tok < b.tok)
      SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS INT) AS dist,
        freq_a, freq_b
      FROM cand WHERE levenshtein(tok_a, tok_b) <= 1
      ORDER BY tok_a, tok_b"""),
    doc = "SymSpell deletion-neighborhood join: edit-distance-1 token pairs " +
      "from an equi-join on deletion keys + exact levenshtein verify")

  // ---------------------------------------------------------------- d10
  /** Containment near-dup pairs — the ASYMMETRIC companion to d2's
    * Jaccard: C(A,B) = |A∩B| / min(|A|,|B|) (max-containment, Broder's
    * resemblance-vs-containment distinction, public literature).  A short
    * document copied INSIDE a much longer one scores near 1.0 here while
    * its symmetric Jaccard stays low (the union is dominated by the long
    * doc) — exactly the quote/boilerplate/excerpt duplication a
    * training-corpus pipeline must catch that d2 structurally cannot.
    * Same banded shingle equi-join and pair aggregation as d2 (shared
    * code), one extra `least()` — the scale shape is unchanged. */
  val d10Containment = NamedQuery(
    "d10_containment",
    (s, dir) => {
      shingleJaccardPairs(s, dir, global = true)
        .withColumn("containment",
          round(col("n_inter").cast("double") / least(col("sa"), col("sb")), 4))
        .filter(col("containment") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("containment"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(raw"""WITH tok AS (
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
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
        round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) AS containment,
        round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) >= 0.8
      ORDER BY doc_a, doc_b"""),
    doc = "asymmetric containment near-dup pairs (|A∩B| / min size ≥ 0.8): " +
      "catches short-doc-inside-long-doc copies symmetric Jaccard misses")

  /** Planted encoding damage (t11's plant-then-find convention): the
    * corpus is clean ASCII at every SF, so deterministic doc_id-keyed
    * suffixes emulate the four corruption modes an ingest QA triages —
    * mojibake (UTF-8 é/è/â decoded as Latin-1 then re-encoded: the
    * telltale 'Ã' lead), U+FFFD replacement chars (lossy transcode),
    * C0 control bytes (binary bleed-through), and a mid-document BOM
    * (concatenation artifact). */
  private def plantEncoding(text: Column, id: Column): Column = concat(text,
    when(id % 7 === 0, lit(" r\u00c3\u00a9sum\u00c3\u00a9")).otherwise(lit("")),
    when(id % 11 === 0, lit(" data\ufffd\ufffdloss")).otherwise(lit("")),
    when(id % 13 === 0, lit(" bin\u0001\u0002dump")).otherwise(lit("")),
    when(id % 17 === 0, lit(" join\ufeffseam")).otherwise(lit("")))

  private val plantEncodingSql: String =
    """text ||
       CASE WHEN doc_id % 7 = 0 THEN ' r' || chr(195) || chr(169) || 's'
            || 'um' || chr(195) || chr(169) ELSE '' END ||
       CASE WHEN doc_id % 11 = 0 THEN ' data' || chr(65533) || chr(65533)
            || 'loss' ELSE '' END ||
       CASE WHEN doc_id % 13 = 0 THEN ' bin' || chr(1) || chr(2) || 'dump'
            ELSE '' END ||
       CASE WHEN doc_id % 17 = 0 THEN ' join' || chr(65279) || 'seam'
            ELSE '' END"""

  /** Encoding QA — the ingest-time triage every web-scale text pipeline
    * runs before tokenization: count the four classic corruption
    * signatures per document and roll damage rates up per source.  Pure
    * `length`/`replace`/`regexp_replace` builtins — scan-side, inside
    * whole-stage codegen, embarrassingly parallel (the only shuffle is
    * the tiny per-source rollup).  Char-count deltas make every signal
    * an exact integer, so the whole pass (plant → count → rollup) is
    * value-oracled in DuckDB.  Both engines count CHARACTERS (not
    * bytes), so the planted multi-byte damage tallies identically. */
  val t19EncodingQa = NamedQuery(
    "t19_encoding_qa",
    (s, dir) => {
      def hits(c: Column, needle: String) =
        length(c) - length(regexp_replace(c, needle, ""))
      val planted = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("t", plantEncoding(col("text"), col("doc_id")))
        .withColumn("moji", hits(col("t"), "\u00c3"))
        .withColumn("repl", hits(col("t"), "\ufffd"))
        .withColumn("ctrl", hits(col("t"), "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
        .withColumn("bom", hits(col("t"), "\ufeff"))
      planted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("moji") > 0).cast("long")).as("moji_docs"),
          sum((col("repl") > 0).cast("long")).as("repl_docs"),
          sum((col("ctrl") > 0).cast("long")).as("ctrl_docs"),
          sum((col("bom") > 0).cast("long")).as("bom_docs"),
          sum(col("moji") + col("repl") + col("ctrl") + col("bom"))
            .as("damage_chars"),
          sum(when(col("moji") + col("repl") + col("ctrl") + col("bom") === 0, 1L)
            .otherwise(0L)).as("clean_docs"))
        .orderBy(col("source"))
    },
    Some(raw"""WITH planted AS (
        SELECT source, $plantEncodingSql AS t
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      hits AS (
        SELECT source,
          length(t) - length(replace(t, chr(195), '')) AS moji,
          length(t) - length(replace(t, chr(65533), '')) AS repl,
          length(t) - length(regexp_replace(t,
            '[\x01-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctrl,
          length(t) - length(replace(t, chr(65279), '')) AS bom
        FROM planted)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN moji > 0 THEN 1 ELSE 0 END) AS BIGINT) AS moji_docs,
        CAST(sum(CASE WHEN repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS repl_docs,
        CAST(sum(CASE WHEN ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ctrl_docs,
        CAST(sum(CASE WHEN bom > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bom_docs,
        CAST(sum(moji + repl + ctrl + bom) AS BIGINT) AS damage_chars,
        CAST(sum(CASE WHEN moji + repl + ctrl + bom = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS clean_docs
      FROM hits GROUP BY source ORDER BY source"""),
    doc = "encoding QA: mojibake/U+FFFD/control-char/BOM detection over " +
      "planted corruption, per-source damage rollup; scan-side codegen, " +
      "FULL value oracle")

  // ---------------------------------------------------------------- t20
  /** Number of BPE merge rounds trained by t20 (vocab-size knob). */
  private val BpeRounds = 8

  /** One unrolled DuckDB stage of the BPE trainer (mirrors the Spark
    * loop body below; `MATERIALIZED` because each stage's relations are
    * referenced several times and naive CTE inlining explodes
    * exponentially across 8 stages). */
  private def bpeStageSql(k: Int): String = s"""
  adj$k AS MATERIALIZED (SELECT doc_id, seq, tok,
    lead(tok) OVER (PARTITION BY doc_id ORDER BY seq) AS ntok FROM occ$k),
  cnt$k AS (SELECT tok AS l, ntok AS r, count(*) AS c FROM adj$k
    WHERE ntok IS NOT NULL GROUP BY tok, ntok),
  best$k AS MATERIALIZED (SELECT l, r, c FROM cnt$k ORDER BY c DESC, l, r LIMIT 1),
  cand$k AS (SELECT a.doc_id, a.seq FROM adj$k a
    JOIN best$k b ON a.tok = b.l AND a.ntok = b.r),
  kept$k AS MATERIALIZED (SELECT doc_id, seq FROM (
      SELECT doc_id, seq, row_number() OVER (
        PARTITION BY doc_id, seq - rn ORDER BY seq) AS pick
      FROM (SELECT doc_id, seq, row_number() OVER (
              PARTITION BY doc_id ORDER BY seq) AS rn FROM cand$k) t) u
    WHERE pick % 2 = 1),
  merged$k AS (SELECT o.doc_id, o.seq,
      CASE WHEN km.seq IS NOT NULL
           THEN o.tok || (SELECT r FROM best$k) ELSE o.tok END AS tok,
      CASE WHEN kd.seq IS NOT NULL THEN 1 ELSE 0 END AS del
    FROM occ$k o
    LEFT JOIN kept$k km ON km.doc_id = o.doc_id AND km.seq = o.seq
    LEFT JOIN kept$k kd ON kd.doc_id = o.doc_id AND kd.seq = o.seq - 1),
  occ${k + 1} AS MATERIALIZED (SELECT doc_id,
      row_number() OVER (PARTITION BY doc_id ORDER BY seq) AS seq, tok
    FROM merged$k WHERE del = 0)"""

  /** BPE tokenizer TRAINING — not applying a fixed vocabulary (t6/t13/t17
    * do that) but LEARNING one from the corpus: the iterative
    * count-pairs → take-argmax → merge loop of Sennrich et al. (ACL
    * 2016, public literature), run at word granularity for `BpeRounds`
    * rounds on a deterministic 5% id-sample (tokenizer training on a
    * corpus sample is standard practice — the sample just has to be
    * reproducible, same rule both engines).  Output: the learned merge
    * table (rank, pair, support) — the artifact a tokenizer ships.
    *
    * No driver-side collect anywhere: each round's argmax is a 1-row
    * relation broadcast back into the plan, and the sample is
    * re-encoded with `graft_bpe_apply` every round (below), so the
    * only cut is that 1-row argmax.  The kernel resolves greedy
    * left-to-right non-overlap (in `a a a` the pair `(a,a)` merges
    * positions 1–2, not 2–3); the oracle replays the rounds as unrolled
    * window stages ([[bpeStageSql]]: odd `row_number` within `seq − rn`
    * islands picks the same alternate chain members).
    *
    * Returns the per-round 1-row argmax relations (`best(l, r, c)`,
    * rank = position + 1) and the sample's final post-merge
    * `(doc_id, seq, tok)` occurrences (lazy and uncut: only
    * BpeTrainSpec's round-trip reads them).
    *
    * KERNEL-TRAIN form (r17): round k counts pairs on the sample
    * RE-ENCODED from scratch by the one-pass native
    * [[graft.functions.BpeApplyMerges]] kernel under rules 1..k−1 —
    * the state the old per-round window chain maintained incrementally.
    * The two are value-identical by the round-trip BpeTrainSpec pins
    * (the spec's declarative window passes under rules 1..k land
    * exactly on the trainer's round-k occurrences; the kernel ≡ the
    * plain-Scala reference), so the argmax sees the same pair counts.
    * What changes is the cost shape: the old loop persisted a
    * SAMPLE-WIDE occurrence relation and ran 3–4 window passes per
    * round (8 cuts + 8 persists + 8 sorted states); this loop persists
    * the sample's token ARRAYS once and pays one map-only kernel
    * encode + one pair-count aggregate per round — the only cut is the
    * 1-ROW argmax (which bounds plan nesting: round k's plan references
    * k−1 one-row leaves, never k−1 nested window chains).  Re-encoding
    * from scratch costs O(K²) kernel passes over the 5% sample instead
    * of O(K) incremental passes — at K = 8 that trade buys the removal
    * of every per-round sample-wide materialization, shuffle and sort.
    * Pair extraction rides the codegen'd `graft_bigrams` (tokens carry
    * no whitespace — `\s+`-split then concat — so splitting the bigram
    * at its first space is exact). */
  private[queries] def bpeTrainLoop(s: SparkSession,
      dir: String): (Seq[DataFrame], DataFrame) = {
    graft.sentiment.GraftFunctions.register(s)
    val sample = Derivations.persist(Tables.documents(s, dir)
      .filter(col("doc_id") % 20 === 0)
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), tokens(col("text")).as("toks")))
    def encodedUnder(bests: Seq[DataFrame]): DataFrame =
      if (bests.isEmpty) sample
      else sample.crossJoin(broadcast(bpeMergesRow(bests)))
        .select(col("doc_id"),
          call_function("graft_bpe_apply", col("toks"), col("merges")).as("toks"))
    var bests = Seq.empty[DataFrame]
    for (_ <- 1 to BpeRounds) {
      val lr = encodedUnder(bests)
        .select(explode(call_function("graft_bigrams", col("toks"))).as("bg"))
        .select(split(col("bg"), " ", 2).as("lr"))
      val best = Dedup.lineageCut(s, lr
        .select(col("lr").getItem(0).as("l"), col("lr").getItem(1).as("r"))
        .groupBy(col("l"), col("r")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("l"), col("r")).limit(1))
      bests = bests :+ best
    }
    (bests, encodedUnder(bests)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("seq", "tok"))))
  }

  /** [[bpeTrainLoop]] as a session derivation, keyed on the corpus's
    * file stamp: t20 (inspect the merge table), t21 (encode the corpus)
    * and t22 over one corpus train ONCE — reusing the DataFrames reuses
    * the persisted lineage-cut blocks inside them, so the sample rounds
    * materialize once per session. */
  private def bpeTrainLoopCached(s: SparkSession,
      dir: String): (Seq[DataFrame], DataFrame) = {
    RetiredConf.reject(s, "spark.graft.bpe.cache", "true")
    Dedup.rejectRetiredCut(s)
    Derivations.memo(s, dir, "t20_bpe_train", Tables.fileStamp(s, dir, "documents"))(
      bpeTrainLoop(s, dir))
  }

  val t20BpeTrain = NamedQuery(
    "t20_bpe_train",
    (s, dir) => {
      val (bests, _) = bpeTrainLoopCached(s, dir)
      bests.zipWithIndex.map { case (best, i) =>
        best.select(lit(i + 1).as("merge_rank"), col("l").as("left_tok"),
          col("r").as("right_tok"), col("c").cast("long").as("pair_count"))
      }.reduce(_ unionAll _).orderBy(col("merge_rank"))
    },
    Some {
      val stages = (0 until BpeRounds).map(bpeStageSql).mkString(",")
      val unions = (0 until BpeRounds).map(k =>
        s"SELECT $k + 1 AS merge_rank, l AS left_tok, r AS right_tok, " +
          s"CAST(c AS BIGINT) AS pair_count FROM best$k").mkString(" UNION ALL ")
      raw"""WITH tok0 AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
               generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS seq
        FROM documents
        WHERE text IS NOT NULL AND text <> '' AND doc_id % 20 = 0),
      occ0 AS MATERIALIZED (SELECT doc_id, seq, tok FROM tok0),$stages
      SELECT CAST(merge_rank AS INT) AS merge_rank, left_tok, right_tok, pair_count
      FROM ($unions) ORDER BY merge_rank"""
    },
    doc = "BPE tokenizer training (8 merge rounds, 5% id-sample): each " +
      "round re-encodes the sample with graft_bpe_apply under the merges " +
      "so far, counts adjacent pairs and cuts only the 1-row argmax; " +
      "FULL value oracle via unrolled materialized stages")

  // ---------------------------------------------------------------- t21
  /** One unrolled DuckDB stage of the merge APPLICATION over the full
    * corpus (focc$k → focc${k+1}) — [[bpeStageSql]] minus the argmax:
    * the rule comes from the trainer's best$k stage instead of fcnt. */
  private def bpeApplyStageSql(k: Int): String = s"""
  fadj$k AS MATERIALIZED (SELECT doc_id, seq, tok,
    lead(tok) OVER (PARTITION BY doc_id ORDER BY seq) AS ntok FROM focc$k),
  fcand$k AS (SELECT a.doc_id, a.seq FROM fadj$k a
    JOIN best$k b ON a.tok = b.l AND a.ntok = b.r),
  fkept$k AS MATERIALIZED (SELECT doc_id, seq FROM (
      SELECT doc_id, seq, row_number() OVER (
        PARTITION BY doc_id, seq - rn ORDER BY seq) AS pick
      FROM (SELECT doc_id, seq, row_number() OVER (
              PARTITION BY doc_id ORDER BY seq) AS rn FROM fcand$k) t) u
    WHERE pick % 2 = 1),
  fmerged$k AS (SELECT o.doc_id, o.seq,
      CASE WHEN km.seq IS NOT NULL
           THEN o.tok || (SELECT r FROM best$k) ELSE o.tok END AS tok,
      CASE WHEN kd.seq IS NOT NULL THEN 1 ELSE 0 END AS del
    FROM focc$k o
    LEFT JOIN fkept$k km ON km.doc_id = o.doc_id AND km.seq = o.seq
    LEFT JOIN fkept$k kd ON kd.doc_id = o.doc_id AND kd.seq = o.seq - 1),
  focc${k + 1} AS MATERIALIZED (SELECT doc_id,
      row_number() OVER (PARTITION BY doc_id ORDER BY seq) AS seq, tok
    FROM fmerged$k WHERE del = 0)"""

  /** BPE merge APPLICATION — the consumer of t20's artifact, closing the
    * tokenizer loop: train on the 5% sample (t20's loop, composed — same
    * single source of truth discipline as d13/s9), then ENCODE the whole
    * corpus with the learned rules in rank order, one greedy
    * left-to-right pass per rule.  Output: the per-source encoding
    * budget — tokens before/after, merges applied, compression in
    * integer basis points — the number a tokenizer deployment actually
    * reports.
    *
    * Scale shape: BPE application needs NO cross-document state, so the
    * encode is a single corpus scan — per document, tokenize and run the
    * broadcast 1-row merge table through [[graft.functions.BpeApplyKernel]]
    * (one greedy pass per rule over the in-memory token array), then one
    * tiny per-source aggregate.  The corpus is touched exactly once and
    * nothing corpus-wide materializes; the trainer's sample-bound loop
    * is the only iterative cost.  A declarative K-window-pass encode
    * would re-materialize the full occurrence relation once per rule
    * for per-document-local work (22 s at local[32], measured in round
    * 8); the DuckDB oracle unrolls exactly that shape and hash-gates
    * this path against it, and BpeTrainSpec pins the kernel against a
    * plain-Scala reference. */
  val t21BpeApply = NamedQuery(
    "t21_bpe_apply",
    (s, dir) => {
      RetiredConf.reject(s, "spark.graft.bpe.apply", "onepass")
      val (bests, _) = bpeTrainLoopCached(s, dir)
      graft.sentiment.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("source"), tokens(col("text")).as("toks"))
        .crossJoin(broadcast(bpeMergesRow(bests)))
        .select(col("source"), size(col("toks")).cast("long").as("nb"),
          size(call_function("graft_bpe_apply", col("toks"), col("merges")))
            .cast("long").as("na"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("tokens_before"),
          sum(col("na")).as("tokens_after"),
          (sum(col("nb")) - sum(col("na"))).as("merges_applied"),
          expr("sum(na) * 10000 DIV sum(nb)").as("compression_bp"))
        .orderBy(col("source"))
    },
    Some {
      raw"""WITH $bpeOracleChain,
      b AS (SELECT doc_id, count(*) AS nb FROM focc0 GROUP BY doc_id),
      a AS (SELECT doc_id, count(*) AS na FROM focc$BpeRounds GROUP BY doc_id),
      j AS (SELECT d.source, b.nb, a.na FROM documents d
            JOIN b ON b.doc_id = d.doc_id JOIN a ON a.doc_id = d.doc_id)
      SELECT source, count(*) AS n_docs,
        CAST(sum(nb) AS BIGINT) AS tokens_before,
        CAST(sum(na) AS BIGINT) AS tokens_after,
        CAST(sum(nb) - sum(na) AS BIGINT) AS merges_applied,
        CAST(sum(na) * 10000 // sum(nb) AS BIGINT) AS compression_bp
      FROM j GROUP BY source ORDER BY source"""
    },
    doc = "BPE merge application (t20's 8 learned rules, rank order, " +
      "greedy non-overlap): per-source before/after token budget + " +
      "integer-bp compression; one-pass native encoder " +
      "(broadcast merge table + graft_bpe_apply, single corpus scan); " +
      "FULL value oracle unrolling trainer + application stages")

  // ---------------------------------------------------------------- t22
  /** Tokenizer FERTILITY — the number tokenizer work is actually tuned
    * against: characters per encoded token, per source, under the
    * trained t20 merges (on this pure-ASCII corpus chars == bytes, so
    * this IS the standard bytes/token figure; see the charfold ASCII
    * note).  A source whose fertility is low relative to the fleet is
    * under-served by the learned merges (its text fragments into more
    * tokens per byte), which is what a vocabulary re-train or a
    * per-source merge budget decision reads.  In basis points —
    * `fertility_bp = Σchars·10⁴ div Σtokens` — exact int64 end to end.
    *
    * Scale shape: t21's one-pass production encoder verbatim (ONE
    * broadcast merge row, ONE corpus scan, the codegen'd
    * `graft_bpe_apply` kernel), one map-side-combined per-source
    * aggregate; the trainer cost amortizes through the shared session
    * memo exactly as t21's does.  FULL value oracle via the unrolled
    * trainer + application stages. */
  /** The 8 one-row argmax relations collapsed into ONE broadcast row
    * holding the rank-ordered merge table (array_sort on the (rank, l, r)
    * structs orders by rank — the leading field) — THE single
    * construction, shared by t21's and t22's one-pass encoders. */
  private def bpeMergesRow(bests: Seq[DataFrame]): DataFrame =
    bests.zipWithIndex.map { case (b, i) =>
      b.select(lit(i + 1).as("rank"), col("l"), col("r"))
    }.reduce(_ unionAll _)
      .agg(array_sort(collect_list(struct(col("rank"), col("l"), col("r")))).as("ms"))
      .select(transform(col("ms"),
        m => struct(m.getField("l"), m.getField("r"))).as("merges"))

  /** The shared DuckDB replay of trainer + full-corpus application:
    * sampled tok0/occ0 → the unrolled training stages → full ftok0/focc0
    * → the unrolled application stages (focc`BpeRounds` = the encoded
    * corpus).  t21's and t22's oracles both open with this chain. */
  private def bpeOracleChain: String = {
    val trainStages = (0 until BpeRounds).map(bpeStageSql).mkString(",")
    val applyStages = (0 until BpeRounds).map(bpeApplyStageSql).mkString(",")
    raw"""tok0 AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
               generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS seq
        FROM documents
        WHERE text IS NOT NULL AND text <> '' AND doc_id % 20 = 0),
      occ0 AS MATERIALIZED (SELECT doc_id, seq, tok FROM tok0),$trainStages,
      ftok0 AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
               generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS seq
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      focc0 AS MATERIALIZED (SELECT doc_id, seq, tok FROM ftok0),$applyStages"""
  }

  val t22BpeFertility = NamedQuery(
    "t22_bpe_fertility",
    (s, dir) => {
      val (bests, _) = bpeTrainLoopCached(s, dir)
      graft.sentiment.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("source"), length(col("text")).cast("long").as("n_chars"),
          tokens(col("text")).as("toks"))
        .crossJoin(broadcast(bpeMergesRow(bests)))
        .select(col("source"), col("n_chars"),
          size(call_function("graft_bpe_apply", col("toks"), col("merges")))
            .cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(col("n_tok")).as("tokens"),
          expr("(sum(n_chars) * 10000) div nullif(sum(n_tok), 0)")
            .as("fertility_bp"))
        .orderBy(col("source"))
    },
    Some {
      raw"""WITH $bpeOracleChain,
      a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
            FROM focc$BpeRounds GROUP BY doc_id),
      j AS (SELECT d.source, CAST(length(d.text) AS BIGINT) AS n_chars, a.n_tok
            FROM documents d JOIN a ON a.doc_id = d.doc_id)
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS chars,
        CAST(sum(n_tok) AS BIGINT) AS tokens,
        CAST((sum(n_chars) * 10000) // nullif(sum(n_tok), 0) AS BIGINT) AS fertility_bp
      FROM j GROUP BY source ORDER BY source"""
    },
    doc = "tokenizer fertility: chars (== bytes on this ASCII corpus) per " +
      "encoded token per source under the trained t20 merges, in exact " +
      "integer bp — the per-source figure a vocabulary retrain or merge " +
      "budget is tuned against; t21's one-pass encoder verbatim, FULL " +
      "value oracle via the unrolled trainer+application stages")

  def all: Seq[NamedQuery] = Seq(
    t1TokenStats, t2LangId, t3QualityScore, t4Fingerprint, t5Preview,
    t6BpeTokens, t7RollingFingerprint, t8TrainSplit, t9DistinctiveTerms,
    t10Repetition, t11PiiScrub, t12UrlDomains, t13VocabOov, t14FreqSpectrum,
    t16BigramSurprisal, t17VocabScrub, t18Cooccurrence,
    t15TypoPairs, t19EncodingQa, t20BpeTrain, t21BpeApply, t22BpeFertility,
    d1DedupExact, d2NgramJaccard, d10Containment, d16SourceOverlap,
    d17OverlapSketch, d18ThreeWayOverlap,
    c1CorpusCuration, c2Contamination, c7NgramDecontamination)
}
