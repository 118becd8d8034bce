package graft.queries

import graft.NamedQuery
import graft.tables.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation planning pack — the scheduling steps a training-data
  * pipeline runs AFTER filtering/dedup (c1) and decontamination (c2):
  * sequence packing and source mixing.  Both queries are pure integer
  * arithmetic end-to-end (`div`, no floating division), so the DuckDB
  * oracles replay them bit-exactly at every scale factor.
  *
  * Scale notes (100 TB): c3's window partitions by (split, source) — the
  * sort is per-group, shuffled on the group key, never global.  c4's
  * windows run over the per-source AGGREGATE (one row per source), so
  * their cost is the source cardinality, not the corpus.
  */
object Curation {

  /** Tokens per packed training sequence (c3) — 2^11, a common LLM
    * context-length budget. */
  private[graft] val SeqBudget = 2048L

  // ---------------------------------------------------------------- c3
  /** Sequence packing — concatenate-and-chunk: documents are concatenated
    * in deterministic (doc_id) order within each (split, source) group and
    * chunked every [[SeqBudget]] tokens.  Reports, per group, the sequence
    * count the budget implies and how many documents straddle a chunk
    * boundary (those get split across two training sequences).  The
    * straddle test compares the chunk index of a document's first and last
    * token — `cum_before div B < (cum - 1) div B` — in exact BIGINT
    * division on both engines. */
  val c3SequencePacking = NamedQuery(
    "c3_sequence_packing",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("split", TextOps.splitCol)
      val w = Window.partitionBy(col("split"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("straddles",
          expr(s"(cum - n_tokens) div $SeqBudget") <
            expr(s"(cum - 1) div $SeqBudget"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddlers"))
        .withColumn("n_seqs",
          expr(s"(total_tokens + ${SeqBudget - 1}) div $SeqBudget"))
        .select(col("split"), col("source"), col("n_docs"),
          col("total_tokens"), col("n_seqs"), col("n_straddlers"))
        .orderBy(col("split"), col("source"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
          ${TextOps.splitCaseSql} AS split
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      c AS (
        SELECT split, source, n_tokens,
          sum(n_tokens) OVER (PARTITION BY split, source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d)
      SELECT split, source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        (CAST(sum(n_tokens) AS BIGINT) + ${SeqBudget - 1}) // $SeqBudget AS n_seqs,
        CAST(sum(CASE WHEN (cum - n_tokens) // $SeqBudget < (cum - 1) // $SeqBudget
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
      FROM c GROUP BY split, source ORDER BY split, source"""),
    doc = "sequence packing plan: chunk count + boundary-straddling docs per " +
      "(split, source) at a 2048-token budget")

  // ---------------------------------------------------------------- c4
  /** Source mixing — data-mixture planning: given a total token budget of
    * half the corpus and an equal per-source share, compute each source's
    * acceptance rate (capped at 1.0 — no upsampling) and the token count
    * the plan yields.  Rates are held in basis points via integer division
    * (`target*10000 div avail`), sidestepping float rounding entirely. */
  val c4SourceMixing = NamedQuery(
    "c4_source_mixing",
    (s, dir) => {
      val perSource = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("avail_tokens"))
      val all = Window.partitionBy()
      perSource
        .withColumn("budget", expr("sum(avail_tokens) OVER () div 2"))
        .withColumn("n_sources", count(lit(1)).over(all))
        .withColumn("target_tokens", expr("budget div n_sources"))
        .withColumn("rate_bp",
          least(expr("(target_tokens * 10000) div avail_tokens"), lit(10000L)))
        .withColumn("planned_tokens", expr("(avail_tokens * rate_bp) div 10000"))
        .select(col("source"), col("n_docs"), col("avail_tokens"),
          col("target_tokens"), col("rate_bp"), col("planned_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""WITH per_source AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))
            AS BIGINT) AS avail_tokens
        FROM documents WHERE text IS NOT NULL AND text <> ''
        GROUP BY source),
      planned AS (
        SELECT source, n_docs, avail_tokens,
          (CAST(sum(avail_tokens) OVER () AS BIGINT) // 2)
            // (count(*) OVER ()) AS target_tokens
        FROM per_source)
      SELECT source, n_docs, avail_tokens, target_tokens,
        least((target_tokens * 10000) // avail_tokens, 10000) AS rate_bp,
        (avail_tokens * least((target_tokens * 10000) // avail_tokens, 10000))
          // 10000 AS planned_tokens
      FROM planned ORDER BY source"""),
    doc = "data-mixture plan: per-source acceptance rate (basis points) for an " +
      "equal-share half-corpus token budget, no upsampling")

  // ---------------------------------------------------------------- c14
  /** Overlap-aware source mixing — c4's budget split priced on EFFECTIVE
    * (deduplicated) mass instead of raw per-source mass, closing the
    * c4 ← d17/d18 consumption loop (r13 verdict #1): raw availability
    * over-credits sources whose content other sources also carry, so an
    * equal-share plan over raw mass double-buys the shared portion.  The
    * effective mass comes from [[TextOps.effectiveSourceMass]] —
    * inclusion–exclusion over d17's pairwise `est_shared` corrected by
    * d18's triple intersections, all read off the ONE persisted KMV
    * synopsis relation (no corpus pass beyond the sketch build d17/d18
    * already pay; the mixing window then runs over ≤ |sources| rows —
    * the c4 scale shape).
    *
    * Mass is in DISTINCT-SHINGLE units (the only unit the overlap
    * estimators can de-duplicate across sources); rates in bp transfer
    * to token budgets because within a source, tokens ∝ shingle mass at
    * corpus scale.  Same mixing recipe as c4 — half-total budget, equal
    * share, no upsampling — so the two plans differ exactly where
    * overlap moves the mass.  Exact int64; FULL value oracle. */
  /** c14's mixing arithmetic over an effective-mass relation
    * `eff(source, est_total, pair_discount, triple_addback, eff_mass)` —
    * THE single definition (the RefreshDecision discipline), shared by
    * the batch query below and the live twin
    * ([[graft.stream.LiveOverlapSketch.mixingPlanOf]]), so live ≡ batch
    * holds by construction.  Runs over ≤ |sources| rows. */
  private[graft] def overlapAwareMixingPlan(
      eff: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val all = Window.partitionBy()
    eff
      .withColumn("budget", expr("sum(eff_mass) OVER () div 2"))
      .withColumn("n_sources", count(lit(1)).over(all))
      .withColumn("target_mass", expr("budget div n_sources"))
      // eff_mass = 0 (a source fully contained in the others) has no
      // exclusive mass to accept: the rate is moot, pinned 10⁴ so the
      // plan stays total — planned_mass is 0 either way
      .withColumn("rate_bp", expr(
        "CASE WHEN eff_mass = 0 THEN CAST(10000 AS BIGINT) " +
          "ELSE least((target_mass * 10000) div eff_mass, 10000) END"))
      .withColumn("planned_mass", expr("(eff_mass * rate_bp) div 10000"))
      .select(col("source"), col("est_total"), col("pair_discount"),
        col("triple_addback"), col("eff_mass"), col("target_mass"),
        col("rate_bp"), col("planned_mass"))
      .orderBy(col("source"))
  }

  val c14OverlapAwareMixing = NamedQuery(
    "c14_overlap_aware_mixing",
    (s, dir) => overlapAwareMixingPlan(TextOps.effectiveSourceMass(
      TextOps.overlapSketchRelation(s, dir), TextOps.OverlapSketchK)),
    Some(s"""WITH ${TextOps.overlapSketchCtes},
      ${TextOps.effectiveMassCtes},
      mix AS (
        SELECT source, est_total, pair_discount, triple_addback, eff_mass,
          (CAST(sum(eff_mass) OVER () AS BIGINT) // 2)
            // (count(*) OVER ()) AS target_mass
        FROM eff)
      SELECT source, est_total, pair_discount, triple_addback, eff_mass,
        CAST(target_mass AS BIGINT) AS target_mass,
        CAST(CASE WHEN eff_mass = 0 THEN 10000
                  ELSE least((target_mass * 10000) // eff_mass, 10000)
             END AS BIGINT) AS rate_bp,
        CAST((eff_mass * CASE WHEN eff_mass = 0 THEN 10000
                  ELSE least((target_mass * 10000) // eff_mass, 10000) END)
          // 10000 AS BIGINT) AS planned_mass
      FROM mix ORDER BY source"""),
    doc = "overlap-aware data-mixture plan: per-source acceptance rate over " +
      "EFFECTIVE (deduplicated) shingle mass — inclusion-exclusion over " +
      "d17's pairwise overlap estimates corrected by d18's triple " +
      "intersections, all from the one persisted KMV synopsis relation; " +
      "c4's recipe priced on mass no other source also brings")

  // ---------------------------------------------------------------- c9
  /** Temperature-based source mixing — the standard multi-source
    * LLM-mixture scheme c4's equal-share plan can't express (Devlin et
    * al.'s multilingual sampling, Raffel et al. "T5" §3.4.3, public
    * literature): source weights ∝ availᵗ with temperature t < 1
    * upweight low-resource sources instead of letting the biggest source
    * swamp the mix.  Here t = ½, the common choice whose weight is an
    * integer square root — computed ENGINE-EXACTLY: `floor(sqrt(n))`
    * seeds, then a one-step correction (`w² > n → w−1`,
    * `(w+1)² ≤ n → w+1`) pins the true isqrt regardless of either
    * engine's libm rounding, so the whole plan stays on the integer grid
    * (shares `budget·w DIV Σw`, rates in basis points, no upsampling
    * cap — the c4 conventions).  The share division is DECOMPOSED as
    * `(budget DIV Σw)·w + ((budget MOD Σw)·w) DIV Σw` rather than the
    * naive `(budget·w) DIV Σw`: budget ≈ T/2 and w ≈ √T make the naive
    * product cross 2^63 once total tokens T ≳ 7e12 (well inside a
    * 100 TB corpus), where Spark with ANSI off wraps silently while
    * DuckDB raises — the decomposition keeps every intermediate below
    * budget (first term, since w ≤ Σw) or below Σw·w ≤ k·T (second
    * term, k = |sources|), exact on the integer grid for any corpus
    * until k·T itself nears 2^63 (~9e18 token-source product — beyond
    * any real mixture).  Scale shape identical to c4: one
    * map-side-combined aggregate to ~|sources| rows, then window
    * arithmetic over that tiny relation. */
  val c9TemperatureMixing = NamedQuery(
    "c9_temperature_mixing",
    (s, dir) => {
      val perSource = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("avail_tokens"))
      val all = Window.partitionBy()
      perSource
        .withColumn("w0", expr("CAST(floor(sqrt(avail_tokens)) AS BIGINT)"))
        .withColumn("weight", expr(
          "CASE WHEN w0 * w0 > avail_tokens THEN w0 - 1 " +
            "WHEN (w0 + 1) * (w0 + 1) <= avail_tokens THEN w0 + 1 ELSE w0 END"))
        .withColumn("budget", expr("sum(avail_tokens) OVER () div 2"))
        .withColumn("sum_w", sum(col("weight")).over(all))
        .withColumn("share_tokens", expr(
          "(budget div sum_w) * weight + ((budget % sum_w) * weight) div sum_w"))
        .withColumn("rate_bp",
          least(expr("(share_tokens * 10000) div avail_tokens"), lit(10000L)))
        .withColumn("planned_tokens", expr("(avail_tokens * rate_bp) div 10000"))
        .select(col("source"), col("n_docs"), col("avail_tokens"), col("weight"),
          col("share_tokens"), col("rate_bp"), col("planned_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""WITH per_source AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))
            AS BIGINT) AS avail_tokens
        FROM documents WHERE text IS NOT NULL AND text <> ''
        GROUP BY source),
      seed AS (
        SELECT source, n_docs, avail_tokens,
          CAST(floor(sqrt(avail_tokens)) AS BIGINT) AS w0
        FROM per_source),
      wt AS (
        SELECT source, n_docs, avail_tokens,
          CASE WHEN w0 * w0 > avail_tokens THEN w0 - 1
               WHEN (w0 + 1) * (w0 + 1) <= avail_tokens THEN w0 + 1
               ELSE w0 END AS weight
        FROM seed),
      p0 AS (
        SELECT source, n_docs, avail_tokens, weight,
          CAST(sum(avail_tokens) OVER () AS BIGINT) // 2 AS budget,
          CAST(sum(weight) OVER () AS BIGINT) AS sum_w
        FROM wt),
      p AS (
        SELECT source, n_docs, avail_tokens, weight,
          (budget // sum_w) * weight
            + ((budget % sum_w) * weight) // sum_w AS share_tokens
        FROM p0)
      SELECT source, n_docs, avail_tokens, weight, share_tokens,
        least((share_tokens * 10000) // avail_tokens, 10000) AS rate_bp,
        (avail_tokens * least((share_tokens * 10000) // avail_tokens, 10000))
          // 10000 AS planned_tokens
      FROM p ORDER BY source"""),
    doc = "temperature (t=1/2) source mixing: weights = exact integer sqrt of " +
      "availability (Newton-corrected, engine-exact), shares and rates on the " +
      "integer grid; upweights low-resource sources vs c4's equal share")

  // ---------------------------------------------------------------- c5
  /** Stratified sampling — EXECUTES c4's mixing plan: each document is
    * accepted iff its deterministic 16-bit md5 bucket falls under the
    * source's basis-point rate, scaled to 65536 and compared as
    * fixed-width hex strings (hex digits sort numerically, and both
    * engines render `hex(int)` without tie ambiguity — no float, no RNG).
    * Deterministic ⟹ reproducible corpus builds and a full value oracle;
    * the sampled token mass matches c4's `planned_tokens` in expectation,
    * which the spec pins within binomial tolerance.
    *
    * At 100 TB: the rate table is one tiny broadcast; acceptance is a
    * per-row hash compare fused into the scan, so the sample costs one
    * pass with no shuffle beyond the final per-source rollup. */
  val c5StratifiedSample = NamedQuery(
    "c5_stratified_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      val all = Window.partitionBy()
      val rates = docs.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("avail_tokens"))
        .withColumn("budget", expr("sum(avail_tokens) OVER () div 2"))
        .withColumn("n_sources", count(lit(1)).over(all))
        .withColumn("target_tokens", expr("budget div n_sources"))
        .withColumn("rate_bp",
          least(expr("(target_tokens * 10000) div avail_tokens"), lit(10000L)))
        .select(col("source"), col("avail_tokens"), col("rate_bp"))
      val h4 = substring(md5(concat(col("doc_id").cast("string"), lit(":sample"))), 1, 4)
      val thr = lower(lpad(hex(expr("(rate_bp * 65536) div 10000")), 4, "0"))
      docs.join(broadcast(rates), "source")
        .withColumn("accept", col("rate_bp") === 10000L || h4 < thr)
        .groupBy(col("source"))
        .agg(max(col("rate_bp")).as("rate_bp"),
          sum(when(col("accept"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("accept"), col("n_tokens")).otherwise(0L)).as("sampled_tokens"),
          max(col("avail_tokens")).as("avail_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      per_source AS (
        SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
        FROM d GROUP BY source),
      rates AS (
        SELECT source, avail_tokens,
          least(((CAST(sum(avail_tokens) OVER () AS BIGINT) // 2
                  // (count(*) OVER ())) * 10000) // avail_tokens,
                10000) AS rate_bp
        FROM per_source),
      acc AS (
        SELECT d.source, d.n_tokens, r.rate_bp, r.avail_tokens,
          (r.rate_bp = 10000 OR
           substr(md5(CAST(d.doc_id AS VARCHAR) || ':sample'), 1, 4) <
             lower(lpad(hex((r.rate_bp * 65536) // 10000), 4, '0'))) AS accept
        FROM d JOIN rates r USING (source))
      SELECT source, CAST(max(rate_bp) AS BIGINT) AS rate_bp,
        CAST(sum(CASE WHEN accept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        CAST(sum(CASE WHEN accept THEN n_tokens ELSE 0 END) AS BIGINT) AS sampled_tokens,
        CAST(max(avail_tokens) AS BIGINT) AS avail_tokens
      FROM acc GROUP BY source ORDER BY source"""),
    doc = "stratified sampling executing c4's mixing plan: deterministic md5-bucket " +
      "acceptance at per-source basis-point rates; oracle-checked")

  // ---------------------------------------------------------------- c6
  /** Document chunking with overlap — the RAG/embedding-prep counterpart
    * of c3's concat-and-chunk: each document is independently sliced into
    * windows of [[ChunkSize]] tokens at stride ChunkSize − [[ChunkOverlap]],
    * so consecutive chunks share [[ChunkOverlap]] tokens of context.
    * Closed forms in exact BIGINT arithmetic:
    * `n_chunks = max(1, ceil((n − overlap) / stride))` and
    * `emitted = n + (n_chunks − 1)·overlap` (each interior boundary
    * re-emits the overlap once; the clipped last chunk cancels out).
    * Per-row column math only — embarrassingly parallel, the one shuffle
    * is the per-source rollup. */
  private val ChunkSize = 512L
  private val ChunkOverlap = 64L
  private val ChunkStride = ChunkSize - ChunkOverlap

  val c6ChunkOverlap = NamedQuery(
    "c6_chunk_overlap",
    (s, dir) => {
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("n_chunks",
          greatest(lit(1L),
            expr(s"(n_tokens - $ChunkOverlap + ${ChunkStride - 1}) div $ChunkStride")))
        .withColumn("emitted",
          col("n_tokens") + (col("n_chunks") - 1L) * ChunkOverlap)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chunks")).as("total_chunks"),
          sum(col("emitted")).as("emitted_tokens"),
          sum(col("emitted") - col("n_tokens")).as("overlap_overhead"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (
        SELECT source,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      ch AS (
        SELECT source, n_tokens,
          greatest(1, (n_tokens - $ChunkOverlap + ${ChunkStride - 1}) // $ChunkStride) AS n_chunks
        FROM d),
      em AS (
        SELECT source, n_tokens, n_chunks,
          n_tokens + (n_chunks - 1) * $ChunkOverlap AS emitted
        FROM ch)
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
        CAST(sum(emitted) AS BIGINT) AS emitted_tokens,
        CAST(sum(emitted - n_tokens) AS BIGINT) AS overlap_overhead
      FROM em GROUP BY source ORDER BY source"""),
    doc = "per-doc sliding-window chunking (512-token windows, 64 overlap) in " +
      "closed-form integer arithmetic; oracle-checked")

  // ---------------------------------------------------------------- c8
  /** Curriculum tiers — split the corpus into quality quartiles and
    * account tokens per tier, the plan behind quality-ordered training
    * schedules (low-tier data first or dropped, high-tier data upsampled
    * or late-stage).  Deliberately NOT an `ntile` window: a global-sort
    * quantile split would shuffle the whole corpus to rank it.  Instead
    * the three quartile CUT POINTS come from one exact `percentile`
    * aggregate (a single 3-double row), broadcast back, and tier
    * assignment is a scan-side comparison — the plan that holds at
    * 100 TB (one agg, one broadcast, one rollup; cf. q34's sampled
    * percentiles for when even the exact percentile agg is too hot).
    *
    * Cross-engine float safety: quality values sit on the 1e-4 grid
    * (t3's floor), so interpolated cuts are ≥ 2.5e-5 away from every
    * data value — a last-ulp interpolation difference between engines
    * can never flip a `quality > cut` comparison. */
  val c8CurriculumTiers = NamedQuery(
    "c8_curriculum_tiers",
    (s, dir) => {
      val q = TextOps.withQualitySignals(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull && col("text") =!= ""))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_toks"), col("quality"))
      val cuts = q.agg(
        expr("percentile(quality, 0.25)").as("c1"),
        expr("percentile(quality, 0.5)").as("c2"),
        expr("percentile(quality, 0.75)").as("c3"))
      q.crossJoin(broadcast(cuts))
        .withColumn("tier", lit(1)
          + (col("quality") > col("c1")).cast("int")
          + (col("quality") > col("c2")).cast("int")
          + (col("quality") > col("c3")).cast("int"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          min(col("quality")).as("lo_quality"),
          max(col("quality")).as("hi_quality"))
        .orderBy(col("tier"))
    },
    Some(s"""WITH q AS (
        SELECT doc_id, n_tokens AS n_toks, ${TextOps.qualityExprSql} AS quality
        FROM (${TextOps.qualitySignalsSubSql}) t),
      cuts AS (
        SELECT quantile_cont(quality, 0.25) AS c1,
               quantile_cont(quality, 0.5) AS c2,
               quantile_cont(quality, 0.75) AS c3
        FROM q)
      SELECT 1 + CAST(quality > c1 AS INT) + CAST(quality > c2 AS INT)
               + CAST(quality > c3 AS INT) AS tier,
        count(*) AS n_docs,
        CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        min(quality) AS lo_quality, max(quality) AS hi_quality
      FROM q, cuts GROUP BY tier ORDER BY tier"""),
    doc = "curriculum quality quartiles: broadcast percentile cuts + scan-side " +
      "tier assignment (no global-sort ntile), tokens accounted per tier")

  // --------------------------------------------------------------- c10
  /** Benchmark decontamination at bloom scale — remove from the corpus
    * every document whose normalized fingerprint appears in a benchmark
    * set (here: the deterministic doc_id % 13 slice standing in for an
    * external eval suite).  c2 *reports* contamination; c10 *removes* it
    * with the plan shape that survives 100 TB:
    *
    *   1. the benchmark fps aggregate into a bloom filter INSIDE the plan
    *      (Spark's own `BloomFilterAggregate` runtime-filter kernel,
    *      surfaced as `graft_bloom_agg`) and reach every task as a
    *      scalar-subquery value — never a driver collect, never a shuffle
    *      of the corpus;
    *   2. `NOT might_contain(fp)` clears the overwhelming majority of the
    *      corpus in the scan stage (a bloom has NO false negatives, so
    *      everything it clears is definitely clean — BloomDeconSpec pins
    *      this invariant);
    *   3. only the bloom's candidates (true hits + the fpp tail) proceed
    *      to the exact broadcast anti-join that removes false positives.
    *
    * The shuffle therefore carries O(hits + fpp·n) rows instead of the
    * corpus, while the RESULT is bit-identical to the exact anti-join —
    * which is why a probabilistic structure can sit inside a
    * hash-oracled query.  Sizing: 2^16 expected items / 2^22 bits ≈
    * 0.4% fpp at test scale; both are literals a caller retunes per
    * corpus (the invariant holds for any sizing). */
  val c10BloomDecontamination = NamedQuery(
    "c10_bloom_decontamination",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .withColumn("fp", TextOps.normFingerprint(col("text")))
      val bench = docs.filter(col("doc_id") % 13 === 0)
        .select(col("fp")).distinct()
      val bloom = bench
        .agg(call_function("graft_bloom_agg", xxhash64(col("fp")),
          lit(1L << 16), lit(1L << 22)).as("bf"))
        .scalar()
      // An empty bench slice aggregates to a NULL bloom; might_contain(NULL, x)
      // is NULL, which would drop every row from BOTH branches. coalesce to
      // false so an empty bloom clears everything into the definitely-clean
      // branch (matching NOT IN over an empty set).
      val might = coalesce(
        call_function("graft_bloom_might", bloom, xxhash64(col("fp"))), lit(false))
      val kept = docs.filter(!might)
        .unionByName(docs.filter(might)
          .join(broadcast(bench), Seq("fp"), "left_anti"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept")),
          Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
        .orderBy(col("source"))
    },
    Some("""WITH docs AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      bench AS (SELECT DISTINCT fp FROM docs WHERE doc_id % 13 = 0),
      kept AS (SELECT * FROM docs WHERE fp NOT IN (SELECT fp FROM bench))
      SELECT d.source, d.n_docs, coalesce(k.n_kept, 0) AS n_kept,
             d.n_docs - coalesce(k.n_kept, 0) AS n_dropped
      FROM (SELECT source, count(*) AS n_docs FROM docs GROUP BY source) d
      LEFT JOIN (SELECT source, count(*) AS n_kept FROM kept GROUP BY source) k
        USING (source)
      ORDER BY d.source"""),
    doc = "benchmark decontamination via in-plan bloom pre-filter + exact " +
      "broadcast anti-join on the candidates; exact result, candidate-only shuffle")

  // ---------------------------------------------------------------- c11
  /** Hashed-feature bucket count of the DSIR selector (2¹⁰ — DSIR's
    * published setup hashes n-grams into a fixed bucket table; Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling", use 10⁴ buckets at web scale). */
  private[graft] val DsirBuckets = 1024L
  /** The target-domain slice: `src0` stands in for the curated
    * high-quality domain (Wikipedia/books in the published setups). */
  private[graft] val DsirTarget = "src0"
  private[graft] val DsirTopK = 100

  /** DSIR-style importance SELECTION — "which raw-pool documents look
    * most like the target domain?", the data-selection step a pretraining
    * pipeline runs between dedup and mixing: unigram tokens hash into
    * [[DsirBuckets]] buckets (the codegen'd mod-prime `graft_charfold`),
    * target vs raw bucket counts become per-bucket Laplace-smoothed
    * likelihood ratios, and every raw document scores by its mean token
    * ratio — top-[[DsirTopK]] by (score, doc_id) is the selected slice.
    *
    * Integer surrogate, deliberately: published DSIR ranks by
    * Σ log(p_target/p_raw); a log does not replay bit-identically across
    * engines, so the score here is the MEAN of the per-bucket ratios in
    * basis points — `w_b = (ct+1)(N_r+B)·10⁴ div (cr+1)(N_t+B)` — exact
    * int64 end to end (t18's PMI-rank technique: keep the monotone
    * integer core, drop the float wrapper).  Per BUCKET the ratio orders
    * exactly as the log does; per document the mean-of-ratios is a
    * documented surrogate for the sum-of-logs (means are dominated by
    * the same enriched buckets; DsirSelectionSpec plants a two-domain
    * pool and checks the selection separates it).  Magnitudes: weights
    * ≤ 10⁴·(N_r/N_t)-ish, doc sums ≤ n_tok·max_w — int64-safe past 10⁹
    * tokens (the a12/decimal(38) regime note applies beyond that).
    *
    * Scale shape: the token relation (doc_id, source, bucket) persists
    * ONCE for its two passes (count-building and scoring — the d13
    * one-shared-relation rule); bucket counts are ONE map-side-combined
    * shuffle to a ≤ B-row relation; totals ride a window over those B
    * rows (one single-partition exchange of 1024 rows, the c4 idiom);
    * the B-row weight table BROADCASTS back onto the raw token stream
    * (the corpus never shuffles for the join); per-doc scores are one
    * map-side-combined doc_id shuffle; the final cut is a top-k heap
    * (TakeOrderedAndProject), never a global sort. */
  /** The full per-doc scored RAW POOL of [[c11DsirSelection]] —
    * (doc_id, source, n_tok, score_bp), before the top-k cut.  Factored
    * out so the live twin's parity spec ([[graft.stream.LiveDsirScorer]],
    * T18) can compare per-source totals against the batch relation. */
  private[graft] def dsirScoredDocs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    // scale-adaptive scan spread: the token explosion + per-token charfold
    // below is the DSIR scorer's dominant per-task work (Tables.spreadSmallScan)
    val tok0 = Tables.spreadSmallScan(Tables.documents(s, dir), col("doc_id"))
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      .select(col("doc_id"), col("source"),
        (call_function("graft_charfold", col("t")) % DsirBuckets).as("b"))
    // tracked persist (not a bare .persist): routed through the shared
    // construction-persist discipline so Bench/spec cache clears reclaim
    // it and repeated c11 invocations in one session don't accumulate
    // cached relations (round-12 ADVICE)
    val tok = Dedup.constructionPersist(s, tok0)
    val isT = col("source") === DsirTarget
    tok.filter(!isT)
      .join(broadcast(dsirWeightsOf(tok)), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(min(col("source")).as("source"),
        count(lit(1)).as("n_tok"),
        sum(col("w")).as("sw"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr("sw div n_tok").as("score_bp"))
  }

  /** The ≤ B-row weight relation `(b, w)` from a token relation
    * `(doc_id, source, b)` — c11's trained selector model. */
  private def dsirWeightsOf(tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val isT = col("source") === DsirTarget
    val counts = tok.groupBy(col("b"))
      .agg(sum(when(isT, 1L).otherwise(0L)).as("ct"),
        sum(when(isT, 0L).otherwise(1L)).as("cr"))
    val w = Window.partitionBy()
    counts
      .withColumn("nt", sum(col("ct")).over(w))
      .withColumn("nr", sum(col("cr")).over(w))
      .select(col("b"), expr(
        s"((ct + 1) * (nr + $DsirBuckets) * 10000) div ((cr + 1) * (nt + $DsirBuckets))")
        .as("w"))
  }

  /** c11's trained selector as a DRIVER-SIDE value — how a deployment
    * ships the stored importance model to a live scorer (the
    * s13IndexArray/s14CodebookArray pattern): the per-bucket weight map
    * plus the (N_t, N_r) totals, from which an UNSEEN bucket's smoothed
    * weight `(N_r+B)·10⁴ div (N_t+B)` derives (ct = cr = 0 in the same
    * formula — live streams carry buckets the archive never saw; the
    * batch join can't, because its weights trained on the same corpus). */
  def dsirWeightExport(
      s: org.apache.spark.sql.SparkSession, dir: String): (Map[Long, Long], Long, Long) = {
    graft.sentiment.GraftFunctions.register(s)
    val tok = Tables.documents(s, dir)
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      .select(col("source"),
        (call_function("graft_charfold", col("t")) % DsirBuckets).as("b"))
    val isT = col("source") === DsirTarget
    val counts = tok.groupBy(col("b"))
      .agg(sum(when(isT, 1L).otherwise(0L)).as("ct"),
        sum(when(isT, 0L).otherwise(1L)).as("cr"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nt = counts.map(_._2).sum
    val nr = counts.map(_._3).sum
    val wm = counts.map { case (b, ct, cr) =>
      b -> Math.floorDiv((ct + 1) * (nr + DsirBuckets) * 10000L,
        (cr + 1) * (nt + DsirBuckets))
    }.toMap
    (wm, nt, nr)
  }

  val c11DsirSelection = NamedQuery(
    "c11_dsir_selection",
    (s, dir) =>
      dsirScoredDocs(s, dir)
        .orderBy(col("score_bp").desc, col("doc_id"))
        .limit(DsirTopK),
    Some(s"""WITH d AS (
        SELECT doc_id, source, lower(trim(text)) AS lt
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      tok AS (
        SELECT doc_id, source,
          ${graft.functions.CharFoldKernel.sqlOf("t")} % $DsirBuckets AS b
        FROM d, unnest(regexp_split_to_array(lt, '\\s+')) u(t)),
      counts AS (
        SELECT b,
          sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct,
          sum(CASE WHEN source = '$DsirTarget' THEN 0 ELSE 1 END) AS cr
        FROM tok GROUP BY b),
      tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
      weights AS (
        SELECT b, ((ct + 1) * (nr + $DsirBuckets) * 10000)
                  // ((cr + 1) * (nt + $DsirBuckets)) AS w
        FROM counts, tot),
      scored AS (
        SELECT t.doc_id, min(t.source) AS source,
               count(*) AS n_tok, sum(w.w) AS sw
        FROM tok t JOIN weights w USING (b)
        WHERE t.source <> '$DsirTarget'
        GROUP BY t.doc_id)
      SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(sw // n_tok AS BIGINT) AS score_bp
      FROM scored ORDER BY score_bp DESC, doc_id LIMIT $DsirTopK"""),
    doc = "DSIR-style importance selection: hashed-unigram Laplace " +
      "likelihood ratios (target vs raw pool) in exact integer basis " +
      "points, every raw doc scored by mean token ratio, top-k " +
      "selected — the data-selection step between dedup and mixing; " +
      "FULL value oracle (the t18 integer-rank technique)")

  // ---------------------------------------------------------------- c15

  /** END-TO-END CURATION PIPELINE — the capstone composition (r13
    * verdict #2): every stage exists as its own oracled operator; this
    * relation chains them as ONE dataflow and proves the composition
    * shares corpus passes instead of each stage re-scanning —
    *
    *   canonical dedup    d6/d9's cluster labels, non-keepers dropped
    *                      (c1's anti-join discipline)
    *   decontaminate      c10's benchmark convention (doc_id % 13 — the
    *                      bench fp set, broadcast anti-join)
    *   select             c11's stored selector applied as a FLOOR at
    *                      the raw pool's mean score — "more target-like
    *                      than the average raw doc", a threshold whose
    *                      admitted volume scales with the corpus where
    *                      c11's top-k pins at k; the 1-row floor
    *                      broadcasts, so the cut is scan-side.
    *                      Target-domain docs ride through (the selector
    *                      scores only the raw pool)
    *   mix                c4's equal-share half-budget rates over the
    *                      SELECTED pool, executed with c5's
    *                      deterministic md5 acceptance (salt `:c15mix`)
    *   pack               c3's concat-and-chunk accounting per
    *                      (split, source)
    *
    * Scale shape: the corpus-sized inputs are the base scan, the dup
    * graph's shingle relation and the selector's token relation — each
    * built ONCE (the graph and token relations ride their own persist
    * boundaries; PlanAudit budgets the documents scans for the WHOLE
    * composition).  The per-doc score join co-keys on doc_id; bench
    * fps and mixing rates broadcast; packing shuffles once on
    * (split, source).  All exact integer arithmetic — the FULL
    * five-stage pipeline replays bit-for-bit in DuckDB. */
  val c15CurationPipeline = NamedQuery(
    "c15_curation_pipeline",
    (s, dir) => {
      graft.sentiment.GraftFunctions.register(s)
      val base = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          TextOps.normFingerprint(col("text")).as("fp"))
      val dropSet = Dedup.clusterLabels(s, dir)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val bench = base.filter(col("doc_id") % 13 === 0).select(col("fp")).distinct()
      val scores = dsirScoredDocs(s, dir).select(col("doc_id"), col("score_bp"))
      val floorRel = scores.agg(expr("sum(score_bp) div count(1)").as("floor_bp"))
      // RDD-cut boundary, not a plain persist: `selected` feeds BOTH the
      // rates aggregate and the mixing join — without a boundary the
      // entire upstream (dup graph, decontamination, score join)
      // re-executes per consumer, exactly the stage-re-scanning defect
      // this composition exists to disprove.  A `.persist()` is NOT
      // enough here: the upstream contains the dup graph's LogicalRDD
      // cuts, and the analyzer's self-join deduplication re-aliases one
      // consumer's copy so the CacheManager's canonical lookup misses it
      // (observed: one side substituted, the other recompiled raw).  The
      // RDD cut shares by CONSTRUCTION — both consumers' plans reference
      // the same persisted RDD, no cache matching involved.
      val selected = Dedup.lineageCut(s, base
        .join(dropSet, Seq("doc_id"), "left_anti")
        .join(broadcast(bench), Seq("fp"), "left_anti")
        .join(scores, Seq("doc_id"), "left")
        .crossJoin(broadcast(floorRel))
        .filter(col("source") === DsirTarget ||
          col("score_bp") >= col("floor_bp"))
        .select(col("doc_id"), col("source"), col("n_tokens")))
      val all = Window.partitionBy()
      val rates = selected.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("avail_tokens"))
        .withColumn("budget", expr("sum(avail_tokens) OVER () div 2"))
        .withColumn("n_sources", count(lit(1)).over(all))
        .withColumn("target_tokens", expr("budget div n_sources"))
        .withColumn("rate_bp",
          least(expr("(target_tokens * 10000) div avail_tokens"), lit(10000L)))
        .select(col("source"), col("rate_bp"))
      val h4 = substring(md5(concat(col("doc_id").cast("string"), lit(":c15mix"))), 1, 4)
      val thr = lower(lpad(hex(expr("(rate_bp * 65536) div 10000")), 4, "0"))
      val mixed = selected.join(rates, "source")
        .filter(col("rate_bp") === 10000L || h4 < thr)
      val w = Window.partitionBy(col("split"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      mixed
        .withColumn("split", TextOps.splitCol)
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("straddles",
          expr(s"(cum - n_tokens) div $SeqBudget") <
            expr(s"(cum - 1) div $SeqBudget"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(when(col("straddles"), 1L).otherwise(0L)).as("n_straddlers"),
          max(col("rate_bp")).as("rate_bp"))
        .withColumn("n_seqs",
          expr(s"(total_tokens + ${SeqBudget - 1}) div $SeqBudget"))
        .select(col("split"), col("source"), col("n_docs"),
          col("total_tokens"), col("n_seqs"), col("n_straddlers"),
          col("rate_bp"))
        .orderBy(col("split"), col("source"))
    },
    Some(s"""WITH RECURSIVE ${Dedup.dupGraphCteSql},
      dropset AS (SELECT doc_id FROM labels WHERE doc_id <> cluster_id),
      base AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
          md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
          lower(trim(text)) AS lt
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      bench AS (SELECT DISTINCT fp FROM base WHERE doc_id % 13 = 0),
      ctok AS (
        SELECT doc_id, source,
          ${graft.functions.CharFoldKernel.sqlOf("t")} % $DsirBuckets AS b
        FROM base, unnest(regexp_split_to_array(lt, '\\s+')) u(t)),
      ccounts AS (
        SELECT b,
          sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct,
          sum(CASE WHEN source = '$DsirTarget' THEN 0 ELSE 1 END) AS cr
        FROM ctok GROUP BY b),
      ctot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM ccounts),
      cweights AS (
        SELECT b, ((ct + 1) * (nr + $DsirBuckets) * 10000)
                  // ((cr + 1) * (nt + $DsirBuckets)) AS w
        FROM ccounts, ctot),
      cscores AS (
        SELECT t.doc_id, CAST(sum(w.w) // count(*) AS BIGINT) AS score_bp
        FROM ctok t JOIN cweights w USING (b)
        WHERE t.source <> '$DsirTarget'
        GROUP BY t.doc_id),
      cfloor AS (
        SELECT CAST(sum(score_bp) // count(*) AS BIGINT) AS floor_bp
        FROM cscores),
      selected AS (
        SELECT b.doc_id, b.source, b.n_tokens
        FROM base b LEFT JOIN cscores s ON s.doc_id = b.doc_id
        CROSS JOIN cfloor f
        WHERE b.doc_id NOT IN (SELECT doc_id FROM dropset)
          AND b.fp NOT IN (SELECT fp FROM bench)
          AND (b.source = '$DsirTarget' OR s.score_bp >= f.floor_bp)),
      rates AS (
        SELECT source,
          least((((CAST(sum(avail) OVER () AS BIGINT) // 2)
                   // (count(*) OVER ())) * 10000) // avail, 10000) AS rate_bp
        FROM (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS avail
              FROM selected GROUP BY source) p),
      mixed AS (
        SELECT s.doc_id, s.source, s.n_tokens, r.rate_bp
        FROM selected s JOIN rates r USING (source)
        WHERE r.rate_bp = 10000 OR
          substr(md5(CAST(s.doc_id AS VARCHAR) || ':c15mix'), 1, 4) <
            lower(lpad(hex((r.rate_bp * 65536) // 10000), 4, '0'))),
      packed AS (
        SELECT ${TextOps.splitCaseSql} AS split, source, n_tokens, rate_bp,
          sum(n_tokens) OVER (PARTITION BY ${TextOps.splitCaseSql}, source
            ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM mixed)
      SELECT split, source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        (CAST(sum(n_tokens) AS BIGINT) + ${SeqBudget - 1}) // $SeqBudget AS n_seqs,
        CAST(sum(CASE WHEN (cum - n_tokens) // $SeqBudget < (cum - 1) // $SeqBudget
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers,
        CAST(max(rate_bp) AS BIGINT) AS rate_bp
      FROM packed GROUP BY split, source ORDER BY split, source"""),
    doc = "end-to-end curation pipeline: canonical dedup (d6/d9 labels) -> " +
      "benchmark decontamination (c10's fp set) -> DSIR selection floor " +
      "(c11's stored selector) -> equal-share mixing over the SELECTED " +
      "pool executed with c5's md5 acceptance -> c3 packing accounting, " +
      "composed as ONE dataflow; exact integers end to end, FULL value " +
      "oracle over the composed CTE chains")

  // ---------------------------------------------------------------- c12
  /** Top-k report width of the selector-staleness audit. */
  private val StalenessTopK = 20

  /** DSIR SELECTOR staleness — the stored-model maintenance discipline
    * (s13 audits the IVF cells, s14 the PQ codebooks) applied to c11's
    * importance selector: weights trained on yesterday's raw pool
    * misjudge today's, and this query names WHICH hashed buckets are
    * drifting and how much stored selection weight sits on them, before
    * the drift silently skews what c11 admits.
    *
    * Shape: the selector trains on the ARCHIVE slice (doc_id % 10 ≠ 7,
    * d14's convention — target and raw archive counts give the stored
    * weight `w_bp`, c11's exact formula scoped to the archive); the
    * INCOMING raw slice then compares against the archive raw pool with
    * s11's cross-multiplied technique —
    * `shift_x = n_inc·CR_arch − cr_arch·N_inc` per bucket (positive =
    * the bucket is over-represented in today's raw pool) — which is
    * exact int64 and sums to ZERO over all buckets (both terms total
    * `CR_arch·N_inc`; the spec pins the conservation).  Top-k buckets
    * by |shift_x| with their stored weight: a drifting bucket carrying
    * a high weight is the one that changes selection behavior.
    *
    * Scale shape: ONE corpus token pass into a single map-side-combined
    * `groupBy(bucket)` (≤ B rows out), totals ride a window over those
    * B rows, the cut is a top-k heap.  Magnitudes: shift_x ≤ N²·10⁴…
    * no — ≤ n_b·N ≲ 2⁵³ past 10⁸ tokens per slice (the a12/decimal(38)
    * regime note).  FULL value oracle. */
  /** c12's report arithmetic over a per-bucket counts relation
    * `(b, ct_arch, cr_arch, n_inc)` — THE single definition, shared by
    * the batch query below and the live monitor's report
    * ([[graft.stream.LiveSelectorStaleness.reportOf]]): live ≡ batch by
    * construction because neither path restates these expressions. */
  private[graft] def selectorStalenessFromCounts(
      per: org.apache.spark.sql.DataFrame,
      topK: Int = StalenessTopK): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy()
    per
      .withColumn("nt_a", sum(col("ct_arch")).over(w))
      .withColumn("nr_a", sum(col("cr_arch")).over(w))
      .withColumn("tot_inc", sum(col("n_inc")).over(w))
      .withColumn("w_bp", expr(
        s"((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000) div ((cr_arch + 1) * (nt_a + $DsirBuckets))"))
      .withColumn("shift_x",
        col("n_inc") * col("nr_a") - col("cr_arch") * col("tot_inc"))
      .select(col("b"), col("cr_arch"), col("n_inc"), col("shift_x"), col("w_bp"))
      .orderBy(abs(col("shift_x")).desc, col("b"))
      .limit(topK)
  }

  /** The STORED side of the selector-staleness report: per-bucket
    * archive counts under the trained selector (≤ B rows — maintained
    * with the selector at scale, consumed by the live twin T20). */
  def dsirArchiveBucketStats(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    val isT = col("source") === DsirTarget
    Tables.documents(s, dir)
      .filter(col("text").isNotNull && col("text") =!= "" &&
        col("doc_id") % 10 =!= 7)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      .select(col("source"),
        (call_function("graft_charfold", col("t")) % DsirBuckets).as("b"))
      .groupBy(col("b"))
      .agg(sum(when(isT, 1L).otherwise(0L)).as("ct_arch"),
        sum(when(!isT, 1L).otherwise(0L)).as("cr_arch"))
  }

  /** c12/c13's shared per-bucket drift counts — ONE corpus token pass
    * into one map-side-combined `groupBy(bucket)` (≤ B rows out):
    * `(b, ct_arch, cr_arch, ct_inc, n_inc)` splitting target/raw tokens
    * by the archive/incoming slice.  c12's staleness report reads the
    * archive-weight columns + the raw incoming count; c13's selector
    * leg additionally needs `ct_inc` (the incoming TARGET tokens) to
    * price what a full-pool retrain changes the stored weights by. */
  private[queries] def dsirDriftCounts(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // memoized + persisted (≤ B rows) since round 14: c12's staleness
    // report, c13's selector leg and c16's serving-weight export all
    // read these counts — without the boundary each consumer re-runs
    // the corpus token pass (c16 embeds two consumers in ONE plan, so
    // even a shared DataFrame object would scan documents twice)
    Derivations.memo(s, dir, "dsirDriftCounts", Tables.fileStamp(s, dir, "documents")) {
      graft.sentiment.GraftFunctions.register(s)
      val isInc = col("doc_id") % 10 === 7
      val isT = col("source") === DsirTarget
      Derivations.persist(Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .select(col("doc_id"), col("source"),
          (call_function("graft_charfold", col("t")) % DsirBuckets).as("b"))
        .groupBy(col("b"))
        .agg(
          sum(when(!isInc && isT, 1L).otherwise(0L)).as("ct_arch"),
          sum(when(!isInc && !isT, 1L).otherwise(0L)).as("cr_arch"),
          sum(when(isInc && isT, 1L).otherwise(0L)).as("ct_inc"),
          sum(when(isInc && !isT, 1L).otherwise(0L)).as("n_inc")))
    }

  val c12SelectorStaleness = NamedQuery(
    "c12_selector_staleness",
    (s, dir) => selectorStalenessFromCounts(dsirDriftCounts(s, dir)),
    Some(s"""WITH d AS (
        SELECT doc_id, source, lower(trim(text)) AS lt
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      tok AS (
        SELECT doc_id, source,
          ${graft.functions.CharFoldKernel.sqlOf("t")} % $DsirBuckets AS b
        FROM d, unnest(regexp_split_to_array(lt, '\\s+')) u(t)),
      per AS (
        SELECT b,
          sum(CASE WHEN doc_id % 10 <> 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_arch,
          sum(CASE WHEN doc_id % 10 <> 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS cr_arch,
          sum(CASE WHEN doc_id % 10 = 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS n_inc
        FROM tok GROUP BY b),
      tot AS (
        SELECT sum(ct_arch) AS nt_a, sum(cr_arch) AS nr_a, sum(n_inc) AS tot_inc
        FROM per)
      SELECT CAST(b AS BIGINT) AS b,
        CAST(cr_arch AS BIGINT) AS cr_arch,
        CAST(n_inc AS BIGINT) AS n_inc,
        CAST(n_inc * nr_a - cr_arch * tot_inc AS BIGINT) AS shift_x,
        CAST(((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000)
          // ((cr_arch + 1) * (nt_a + $DsirBuckets)) AS BIGINT) AS w_bp
      FROM per, tot
      ORDER BY abs(n_inc * nr_a - cr_arch * tot_inc) DESC, b
      LIMIT $StalenessTopK"""),
    doc = "DSIR selector staleness: per-bucket cross-multiplied raw-pool " +
      "drift between the archive (the slice the stored weights trained " +
      "on) and the incoming slice, top-k drifting buckets with their " +
      "stored weight — s13/s14's stored-model maintenance discipline " +
      "applied to the importance selector; exact int64, FULL value oracle")

  // ---------------------------------------------------------------- c13
  /** The selector row of c13: staleness + retrain benefit over the ONE
    * shared drift-counts pass ([[dsirDriftCounts]]), arithmetic in
    * [[RefreshDecision.selectorLegOf]] (shared with the live
    * composition). */
  private[queries] def selectorRefreshLeg(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    RefreshDecision.rejectInt64Pin(s)
    RefreshDecision.selectorLegOf(dsirDriftCounts(s, dir), DsirBuckets)
      .select(lit("selector").as("family"), col("staleness_bp"), col("benefit_bp"))
  }

  /** REFRESH DECISION — the operator a 100 TB pipeline actually
    * schedules, composed from the stored-model maintenance triad: s13
    * (IVF cells) / s14 (PQ codebooks) / c12 (importance selector) answer
    * "how stale is the stored model", s15 and its per-family analogues
    * answer "what would ONE warm-start retrain buy", and this relation
    * turns both into a per-family verdict under config thresholds
    * (`spark.graft.refresh.minStalenessBp` / `.minBenefitBp`, defaults
    * baked into the oracle):
    *
    *   refresh ⟺ staleness_bp ≥ min_staleness AND benefit_bp ≥ min_benefit
    *
    * — a drifted model a retrain can't improve keeps serving (don't pay
    * the retrain), and a cheap win on a fresh model isn't scheduled
    * either.  Every metric is exact int64 bp ([[RefreshDecision]]), so
    * the WHOLE decision — three model families, two retrains, one
    * selector re-weighting — replays bit-for-bit in DuckDB.
    *
    * Scale shape: each leg reads its family's memoized audit relations
    * (the quantized corpus / subvector explode / drift counts persist
    * once per session), so deciding costs ~one audit per family; the
    * legs are 1-row relations unioned driver-free.  FULL value oracle
    * via the shared s13/s14 CTE chains + the s15/pq refresh chains. */
  val c13RefreshDecision = NamedQuery(
    "c13_refresh_decision",
    (s, dir) => {
      val legs = Similarity.ivfRefreshLeg(s, dir)
        .unionByName(Similarity.pqRefreshLeg(s, dir))
        .unionByName(selectorRefreshLeg(s, dir))
      val (minSt, minBen) = RefreshDecision.thresholds(s)
      RefreshDecision.decide(legs, minSt, minBen)
    },
    Some(s"""SELECT family, staleness_bp, benefit_bp,
        CAST(${RefreshDecision.DefaultMinStalenessBp} AS BIGINT) AS min_staleness_bp,
        CAST(${RefreshDecision.DefaultMinBenefitBp} AS BIGINT) AS min_benefit_bp,
        CASE WHEN staleness_bp >= ${RefreshDecision.DefaultMinStalenessBp}
               AND benefit_bp >= ${RefreshDecision.DefaultMinBenefitBp}
             THEN 'refresh' ELSE 'keep' END AS verdict
      FROM (
        (WITH ${Similarity.s13OracleCtes},
          ${Similarity.s15RefreshCtes},
          tot AS (
            SELECT
              CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS na,
              CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS ni,
              CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN dist ELSE 0 END) AS BIGINT) AS ma,
              CAST(sum(CASE WHEN vec_id % 10 = 7 THEN dist ELSE 0 END) AS BIGINT) AS mi
            FROM m),
          aft AS (SELECT CAST(sum(dist) AS BIGINT) AS ea FROM m2)
         SELECT 'ivf' AS family,
           CAST((10000 * mi * na) // nullif(ma * ni, 0) - 10000 AS BIGINT) AS staleness_bp,
           CAST((10000 * (ma + mi - ea)) // nullif(ma + mi, 0) AS BIGINT) AS benefit_bp
         FROM tot, aft)
        UNION ALL
        (WITH ${Similarity.s14OracleCtes},
          ${Similarity.pqRefreshCtes},
          tot AS (
            SELECT
              CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT) AS na,
              CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS ni,
              CAST(sum(CASE WHEN vec_id % 10 <> 7 THEN dist ELSE 0 END) AS BIGINT) AS ma,
              CAST(sum(CASE WHEN vec_id % 10 = 7 THEN dist ELSE 0 END) AS BIGINT) AS mi
            FROM best),
          aft AS (SELECT CAST(sum(dist) AS BIGINT) AS ea FROM pbest)
         SELECT 'pq' AS family,
           CAST((10000 * mi * na) // nullif(ma * ni, 0) - 10000 AS BIGINT) AS staleness_bp,
           CAST((10000 * (ma + mi - ea)) // nullif(ma + mi, 0) AS BIGINT) AS benefit_bp
         FROM tot, aft)
        UNION ALL
        (WITH d AS (
            SELECT doc_id, source, lower(trim(text)) AS lt
            FROM documents WHERE text IS NOT NULL AND text <> ''),
          tok AS (
            SELECT doc_id, source,
              ${graft.functions.CharFoldKernel.sqlOf("t")} % $DsirBuckets AS b
            FROM d, unnest(regexp_split_to_array(lt, '\\s+')) u(t)),
          per AS (
            SELECT b,
              sum(CASE WHEN doc_id % 10 <> 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_arch,
              sum(CASE WHEN doc_id % 10 <> 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS cr_arch,
              sum(CASE WHEN doc_id % 10 = 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_inc,
              sum(CASE WHEN doc_id % 10 = 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS n_inc
            FROM tok GROUP BY b),
          tot AS (
            SELECT CAST(sum(ct_arch) AS BIGINT) AS nt_a,
                   CAST(sum(cr_arch) AS BIGINT) AS nr_a,
                   CAST(sum(ct_inc) AS BIGINT) AS ti_t,
                   CAST(sum(n_inc) AS BIGINT) AS ti_r,
                   CAST(count(*) AS BIGINT) AS nb
            FROM per),
          calc AS (
            SELECT
              CAST(sum(abs(n_inc * nr_a - cr_arch * ti_r)) AS BIGINT) AS sh,
              CAST(sum(abs(
                ((ct_arch + ct_inc + 1) * (nr_a + ti_r + $DsirBuckets) * 10000)
                  // ((cr_arch + n_inc + 1) * (nt_a + ti_t + $DsirBuckets))
                - ((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000)
                  // ((cr_arch + 1) * (nt_a + $DsirBuckets)))) AS BIGINT) AS dw,
              max(nr_a) AS nr_a, max(ti_r) AS ti_r, max(nb) AS nb
            FROM per, tot)
         SELECT 'selector' AS family,
           CAST((10000 * sh) // nullif(2 * nr_a * ti_r, 0) AS BIGINT) AS staleness_bp,
           CAST(dw // nullif(nb, 0) AS BIGINT) AS benefit_bp
         FROM calc)
      ) t ORDER BY family"""),
    doc = "refresh decision: composes the stored-model maintenance triad " +
      "(s13 IVF / s14 PQ / c12 selector staleness) with the priced " +
      "warm-start retrains (s15's recipe per family) into a per-family " +
      "refresh/keep verdict under config thresholds — exact int64 bp " +
      "end to end, FULL value oracle over the shared CTE chains")

  // ---------------------------------------------------------------- c16
  /** REFRESH EXECUTION — c13's verdicts ACTED ON: the per-family
    * serving-model hand-off a scheduler ships to the next epoch.  c13
    * says refresh/keep; this relation emits the PARAMETERS that verdict
    * selects — the warm-start-refreshed ones where it says refresh, the
    * stored (stale) ones where it says keep — closing the stored-model
    * lifecycle end to end: train → serve → audit → price → decide →
    * EXECUTE.
    *
    * One row per (family, component, dimension), exact int64 values on
    * each family's integer grid:
    *
    *   ivf       comp_a = list_id, dims 0..63 of the selected centroid
    *             (s15's refreshed index vs s13's stored one)
    *   pq        comp_a = m, comp_b = code, dims 0..PqD−1 of the
    *             selected codebook entry (s17's vs s14's)
    *   selector  comp_a = bucket, dim 0, the selected c11 weight in bp
    *             (the full-pool retrained `w_new` vs the stored `w_old`)
    *
    * Scale shape: the verdicts are c13's 3-row relation (broadcast); the
    * parameter relations are the families' memoized broadcast-sized
    * exports (≤ k cells / PqM·PqK codes / ≤ B buckets) riding the same
    * memoized audit relations as c13 — EXECUTING the decision adds no
    * corpus pass beyond deciding it.  The flattened output is
    * ≤ k·64 + PqM·PqK·PqD + B rows — serving-model-sized, never
    * corpus-sized.  FULL value oracle (the shared chains re-derive both
    * parameter sets and the verdicts). */
  val c16RefreshExecution = NamedQuery(
    "c16_refresh_execution",
    (s, dir) => {
      val legs = Similarity.ivfRefreshLeg(s, dir)
        .unionByName(Similarity.pqRefreshLeg(s, dir))
        .unionByName(selectorRefreshLeg(s, dir))
      val (minSt, minBen) = RefreshDecision.thresholds(s)
      val dec = RefreshDecision.decide(legs, minSt, minBen)
        .select(col("family"), col("verdict"))
      def pick(nw: org.apache.spark.sql.Column, old: org.apache.spark.sql.Column) =
        when(col("verdict") === "refresh", nw).otherwise(old)
      val ivf = Similarity.s15RefreshedCentroids(s, dir)
        .select(lit("ivf").as("family"), col("list_id").cast("long").as("comp_a"),
          lit(0L).as("comp_b"), col("cent"), col("cent_old"))
      val pq = Similarity.s17RefreshedCodebooks(s, dir)
        .select(lit("pq").as("family"), col("m").cast("long").as("comp_a"),
          col("code").cast("long").as("comp_b"), col("cent"), col("cent_old"))
      val vec = ivf.unionByName(pq)
        .join(broadcast(dec), Seq("family"))
        .select(col("family"), col("comp_a"), col("comp_b"), col("verdict"),
          posexplode(pick(col("cent"), col("cent_old"))).as(Seq("dim", "v")))
        .select(col("family"), col("comp_a"), col("comp_b"),
          col("dim").cast("long").as("dim"), col("v").cast("long").as("value"),
          col("verdict"))
      val sel = RefreshDecision.selectorWeights(dsirDriftCounts(s, dir), DsirBuckets)
        .select(lit("selector").as("family"), col("b").cast("long").as("comp_a"),
          lit(0L).as("comp_b"), col("w_old"), col("w_new"))
        .join(broadcast(dec), Seq("family"))
        .select(col("family"), col("comp_a"), col("comp_b"), lit(0L).as("dim"),
          pick(col("w_new"), col("w_old")).cast("long").as("value"),
          col("verdict"))
      vec.unionByName(sel)
        .orderBy(col("family"), col("comp_a"), col("comp_b"), col("dim"))
    },
    Some(s"""SELECT family, comp_a, comp_b, dim, value, verdict FROM (
        (WITH ${Similarity.s13OracleCtes},
          ${Similarity.s15RefreshCtes},
          ${RefreshDecision.totAftCtes("m", "m2")},
          ${RefreshDecision.vdecCte}
         SELECT 'ivf' AS family, CAST(c.list_id AS BIGINT) AS comp_a,
           CAST(0 AS BIGINT) AS comp_b, CAST(i - 1 AS BIGINT) AS dim,
           CAST(CASE WHEN v.verdict = 'refresh' THEN c.cent[i]
                     ELSE c.cent_old[i] END AS BIGINT) AS value,
           v.verdict
         FROM cent3x c, range(1, 65) t(i), vdec v)
        UNION ALL
        (WITH ${Similarity.s14OracleCtes},
          ${Similarity.pqRefreshCtes},
          ${RefreshDecision.totAftCtes("best", "pbest")},
          ${RefreshDecision.vdecCte}
         SELECT 'pq' AS family, CAST(c.m AS BIGINT) AS comp_a,
           CAST(c.code AS BIGINT) AS comp_b, CAST(i - 1 AS BIGINT) AS dim,
           CAST(CASE WHEN v.verdict = 'refresh' THEN c.cent[i]
                     ELSE c.cent_old[i] END AS BIGINT) AS value,
           v.verdict
         FROM prefx c, range(1, ${Similarity.PqD + 1}) t(i), vdec v)
        UNION ALL
        (WITH d AS (
            SELECT doc_id, source, lower(trim(text)) AS lt
            FROM documents WHERE text IS NOT NULL AND text <> ''),
          tok AS (
            SELECT doc_id, source,
              ${graft.functions.CharFoldKernel.sqlOf("t")} % $DsirBuckets AS b
            FROM d, unnest(regexp_split_to_array(lt, '\\s+')) u(t)),
          per AS (
            SELECT b,
              sum(CASE WHEN doc_id % 10 <> 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_arch,
              sum(CASE WHEN doc_id % 10 <> 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS cr_arch,
              sum(CASE WHEN doc_id % 10 = 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_inc,
              sum(CASE WHEN doc_id % 10 = 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS n_inc
            FROM tok GROUP BY b),
          tot AS (
            SELECT CAST(sum(ct_arch) AS BIGINT) AS nt_a,
                   CAST(sum(cr_arch) AS BIGINT) AS nr_a,
                   CAST(sum(ct_inc) AS BIGINT) AS ti_t,
                   CAST(sum(n_inc) AS BIGINT) AS ti_r,
                   CAST(count(*) AS BIGINT) AS nb
            FROM per),
          calc AS (
            SELECT
              CAST(sum(abs(n_inc * nr_a - cr_arch * ti_r)) AS BIGINT) AS sh,
              CAST(sum(abs(
                ((ct_arch + ct_inc + 1) * (nr_a + ti_r + $DsirBuckets) * 10000)
                  // ((cr_arch + n_inc + 1) * (nt_a + ti_t + $DsirBuckets))
                - ((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000)
                  // ((cr_arch + 1) * (nt_a + $DsirBuckets)))) AS BIGINT) AS dw,
              max(nr_a) AS nr_a, max(ti_r) AS ti_r, max(nb) AS nb
            FROM per, tot),
          vdec AS (
            SELECT CASE WHEN
                (10000 * sh) // nullif(2 * nr_a * ti_r, 0)
                  >= ${RefreshDecision.DefaultMinStalenessBp}
                AND dw // nullif(nb, 0)
                  >= ${RefreshDecision.DefaultMinBenefitBp}
              THEN 'refresh' ELSE 'keep' END AS verdict
            FROM calc)
         SELECT 'selector' AS family, CAST(w.b AS BIGINT) AS comp_a,
           CAST(0 AS BIGINT) AS comp_b, CAST(0 AS BIGINT) AS dim,
           CAST(CASE WHEN v.verdict = 'refresh' THEN w.w_new
                     ELSE w.w_old END AS BIGINT) AS value,
           v.verdict
         FROM (
           SELECT b,
             ((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000)
               // ((cr_arch + 1) * (nt_a + $DsirBuckets)) AS w_old,
             ((ct_arch + ct_inc + 1) * (nr_a + ti_r + $DsirBuckets) * 10000)
               // ((cr_arch + n_inc + 1) * (nt_a + ti_t + $DsirBuckets)) AS w_new
           FROM per, tot) w, vdec v)
      ) t ORDER BY family, comp_a, comp_b, dim"""),
    doc = "refresh execution: c13's per-family verdicts acted on — emits " +
      "the next-epoch SERVING parameters each verdict selects (s15's " +
      "refreshed IVF centroids vs s13's stored ones, s17's refreshed PQ " +
      "codebooks vs s14's, the full-pool retrained selector weights vs " +
      "the stored c11 ones), one exact-int64 row per (family, component, " +
      "dim); rides the same memoized audit relations as c13, so " +
      "executing the decision adds no corpus pass beyond deciding it")

  // ---------------------------------------------------------------- c17
  /** SELECTION under the EXECUTED selector — the selector family's
    * serve-again step (s18's discipline applied to c11): c16 ships the
    * per-bucket weights its verdict selects (the full-pool retrained
    * `w_new` on "refresh", the stored archive-trained `w_old` on
    * "keep"); this query SCORES THE INCOMING RAW SLICE with them — the
    * next-epoch admission pass a pretraining scheduler actually runs
    * when new data arrives: tokenize, hash into the [[DsirBuckets]]
    * table, mean served-weight per document, top-[[DsirTopK]] admitted.
    *
    * Scale shape: the verdict is c13's 1-row selector leg over the
    * memoized [[dsirDriftCounts]] relation; the served weight table is
    * that same ≤ B-row relation with the 1-row broadcast verdict picking
    * the column DECLARATIVELY (no driver-side collect); the incoming
    * token stream joins it BROADCAST (the corpus never shuffles for the
    * join), per-doc scores are one map-side-combined doc_id shuffle, the
    * cut is a top-k heap.  Exact int64 end to end (c11's integer-ratio
    * surrogate); FULL value oracle via the shared selector CTE chain +
    * the c16 verdict CASE. */
  /** c17's per-doc scored INCOMING RAW SLICE under the served weights —
    * (doc_id, source, n_tok, score_bp, verdict), before the top-k cut.
    * Factored out so the live twin's parity spec (T23 —
    * [[graft.stream.LiveDsirScorer]] fed the [[servingWeightExport]])
    * can compare per-source totals against the batch relation. */
  private[graft] def c17ScoredDocs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    graft.sentiment.GraftFunctions.register(s)
    val (minSt, minBen) = RefreshDecision.thresholds(s)
    val verdict = RefreshDecision.decide(selectorRefreshLeg(s, dir), minSt, minBen)
      .select(col("verdict"))
    val wts = RefreshDecision.selectorWeights(dsirDriftCounts(s, dir), DsirBuckets)
      .crossJoin(broadcast(verdict))
      .select(col("b"),
        when(col("verdict") === "refresh", col("w_new"))
          .otherwise(col("w_old")).as("w"),
        col("verdict"))
    val tok = Tables.documents(s, dir)
      .filter(col("text").isNotNull && col("text") =!= "" &&
        col("doc_id") % 10 === 7 && col("source") =!= DsirTarget)
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      .select(col("doc_id"), col("source"),
        (call_function("graft_charfold", col("t")) % DsirBuckets).as("b"))
    tok.join(broadcast(wts), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(min(col("source")).as("source"),
        count(lit(1)).as("n_tok"),
        sum(col("w")).as("sw"),
        first(col("verdict")).as("verdict"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr("sw div n_tok").as("score_bp"), col("verdict"))
  }

  /** The SERVED selector as a DRIVER-SIDE value — the c16 selector
    * hand-off as a deployment loads it (the servingIndexExport pattern):
    * the c13 selector verdict, the per-bucket weight map it selects
    * (full-pool retrained `w_new` on "refresh", stored archive-trained
    * `w_old` on "keep"), and the MATCHING totals — archive (N_t, N_r)
    * for the stored weights, full-pool totals for the retrained ones —
    * so the live scorer's unseen-bucket Laplace formula stays the served
    * model's own smoothing.  [[graft.stream.LiveDsirScorer.monitor]]
    * fed this export IS the c17 serve-again step live (T23): the scorer
    * machinery, throughput and state shape are T18's verbatim — only
    * the loaded model differs, which is exactly the deployment story. */
  def servingWeightExport(s: org.apache.spark.sql.SparkSession, dir: String)
      : (String, Map[Long, Long], Long, Long) = {
    graft.sentiment.GraftFunctions.register(s)
    val (minSt, minBen) = RefreshDecision.thresholds(s)
    val v = RefreshDecision.decide(selectorRefreshLeg(s, dir), minSt, minBen)
      .select(col("verdict")).collect().head.getString(0)
    val rows = RefreshDecision.selectorWeights(dsirDriftCounts(s, dir), DsirBuckets)
      .select(col("b"),
        (if (v == "refresh") col("w_new") else col("w_old")).as("w"),
        col("nt_a"), col("nr_a"), col("ti_t"), col("ti_r"))
      .collect()
    require(rows.nonEmpty, "graft: serving-weight export found no trained selector")
    val wm = rows.map(r => r.getAs[Number]("b").longValue ->
      r.getAs[Number]("w").longValue).toMap
    val h = rows.head
    val (nt, nr) =
      if (v == "refresh")
        (h.getAs[Long]("nt_a") + h.getAs[Long]("ti_t"),
          h.getAs[Long]("nr_a") + h.getAs[Long]("ti_r"))
      else (h.getAs[Long]("nt_a"), h.getAs[Long]("nr_a"))
    (v, wm, nt, nr)
  }

  val c17RefreshedSelection = NamedQuery(
    "c17_refreshed_selection",
    (s, dir) => c17ScoredDocs(s, dir)
      .orderBy(col("score_bp").desc, col("doc_id"))
      .limit(DsirTopK),
    Some(s"""WITH d AS (
        SELECT doc_id, source, lower(trim(text)) AS lt
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      tok AS (
        SELECT doc_id, source,
          ${graft.functions.CharFoldKernel.sqlOf("t")} % $DsirBuckets AS b
        FROM d, unnest(regexp_split_to_array(lt, '\\s+')) u(t)),
      per AS (
        SELECT b,
          sum(CASE WHEN doc_id % 10 <> 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_arch,
          sum(CASE WHEN doc_id % 10 <> 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS cr_arch,
          sum(CASE WHEN doc_id % 10 = 7 AND source = '$DsirTarget' THEN 1 ELSE 0 END) AS ct_inc,
          sum(CASE WHEN doc_id % 10 = 7 AND source <> '$DsirTarget' THEN 1 ELSE 0 END) AS n_inc
        FROM tok GROUP BY b),
      tot AS (
        SELECT CAST(sum(ct_arch) AS BIGINT) AS nt_a,
               CAST(sum(cr_arch) AS BIGINT) AS nr_a,
               CAST(sum(ct_inc) AS BIGINT) AS ti_t,
               CAST(sum(n_inc) AS BIGINT) AS ti_r,
               CAST(count(*) AS BIGINT) AS nb
        FROM per),
      calc AS (
        SELECT
          CAST(sum(abs(n_inc * nr_a - cr_arch * ti_r)) AS BIGINT) AS sh,
          CAST(sum(abs(
            ((ct_arch + ct_inc + 1) * (nr_a + ti_r + $DsirBuckets) * 10000)
              // ((cr_arch + n_inc + 1) * (nt_a + ti_t + $DsirBuckets))
            - ((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000)
              // ((cr_arch + 1) * (nt_a + $DsirBuckets)))) AS BIGINT) AS dw,
          max(nr_a) AS nr_a, max(ti_r) AS ti_r, max(nb) AS nb
        FROM per, tot),
      vdec AS (
        SELECT CASE WHEN
            (10000 * sh) // nullif(2 * nr_a * ti_r, 0)
              >= ${RefreshDecision.DefaultMinStalenessBp}
            AND dw // nullif(nb, 0)
              >= ${RefreshDecision.DefaultMinBenefitBp}
          THEN 'refresh' ELSE 'keep' END AS verdict
        FROM calc),
      w AS (
        SELECT b,
          CASE WHEN v.verdict = 'refresh' THEN
            ((ct_arch + ct_inc + 1) * (nr_a + ti_r + $DsirBuckets) * 10000)
              // ((cr_arch + n_inc + 1) * (nt_a + ti_t + $DsirBuckets))
          ELSE
            ((ct_arch + 1) * (nr_a + $DsirBuckets) * 10000)
              // ((cr_arch + 1) * (nt_a + $DsirBuckets))
          END AS w,
          v.verdict
        FROM per, tot, vdec v),
      scored AS (
        SELECT t.doc_id, min(t.source) AS source,
          CAST(count(*) AS BIGINT) AS n_tok,
          CAST(sum(w.w) AS BIGINT) AS sw,
          min(w.verdict) AS verdict
        FROM tok t JOIN w USING (b)
        WHERE t.doc_id % 10 = 7 AND t.source <> '$DsirTarget'
        GROUP BY t.doc_id)
      SELECT doc_id, source, n_tok,
        CAST(sw // n_tok AS BIGINT) AS score_bp, verdict
      FROM scored
      ORDER BY score_bp DESC, doc_id
      LIMIT $DsirTopK"""),
    doc = "selection under the executed selector: the incoming raw slice " +
      "scored with the per-bucket weights c16's verdict shipped (full-pool " +
      "retrained on 'refresh', stored archive-trained on 'keep'), " +
      "top-k admitted — the selector family's serve-again step (next-epoch " +
      "admission); exact int64, FULL value oracle via the shared selector " +
      "CTE chain + the c16 verdict CASE")

  // ---------------------------------------------------------------- c18
  /** Sequence-packing EXECUTION — c3's plan made physical: c3 prices the
    * packing (chunk counts + straddler counts per (split, source)); this
    * relation emits the PLACEMENT a tensor-builder consumes — for every
    * document, WHICH packed sequence its tokens start in, at WHAT
    * offset, and where they end (GPT-style concat-then-chunk: documents
    * concatenate in doc_id order within their (split, source) stream
    * and the token stream chunks at [[SeqBudget]]):
    *
    *   seq_first = (cum − n) div B     offset = (cum − n) mod B
    *   seq_last  = (cum − 1) div B     (straddler ⟺ seq_last > seq_first)
    *
    * all from the same running window c3 prices with, so the two
    * relations agree by construction (the spec ALSO recounts the
    * consistency: Σ straddlers, max seq ids and per-group sequence
    * counts reconcile against the oracled c3 aggregates).
    *
    * Scale shape: ONE shuffle+sort per (split, source) stream (the
    * window); the prefix sum is the classic two-pass per-partition-
    * offset computation Spark's range-partitioned window already
    * implements, so the stream never funnels through one task — the
    * skew knob is the (split, source) granularity itself (a deployment
    * packing one giant source sub-shards the stream key and stitches
    * offsets, the same hierarchy c6's chunker documents).  Exact int64
    * arithmetic; FULL value oracle. */
  val c18PackingExecution = NamedQuery(
    "c18_packing_execution",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("text") =!= "")
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("split", TextOps.splitCol)
      val w = Window.partitionBy(col("split"), col("source"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("split"), col("source"), col("doc_id"), col("n_tokens"),
          expr(s"(cum - n_tokens) div $SeqBudget").as("seq_first"),
          expr(s"(cum - n_tokens) % $SeqBudget").as("offset"),
          expr(s"(cum - 1) div $SeqBudget").as("seq_last"))
        .orderBy(col("split"), col("source"), col("doc_id"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
          ${TextOps.splitCaseSql} AS split
        FROM documents WHERE text IS NOT NULL AND text <> ''),
      c AS (
        SELECT split, source, doc_id, n_tokens,
          sum(n_tokens) OVER (PARTITION BY split, source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d)
      SELECT split, source, doc_id, n_tokens,
        CAST((cum - n_tokens) // $SeqBudget AS BIGINT) AS seq_first,
        CAST((cum - n_tokens) % $SeqBudget AS BIGINT) AS offset,
        CAST((cum - 1) // $SeqBudget AS BIGINT) AS seq_last
      FROM c ORDER BY split, source, doc_id"""),
    doc = "sequence-packing execution: c3's plan made physical — per " +
      "document the packed sequence its tokens start in, the offset, " +
      "and the last sequence it spans (GPT-style concat-then-chunk at " +
      "the 2048-token budget, doc_id order within each (split, source) " +
      "stream) — the placement relation a tensor-builder consumes; " +
      "exact int64, FULL value oracle")

  def all: Seq[NamedQuery] =
    Seq(c3SequencePacking, c4SourceMixing, c5StratifiedSample, c6ChunkOverlap,
      c8CurriculumTiers, c9TemperatureMixing, c10BloomDecontamination,
      c11DsirSelection, c12SelectorStaleness, c13RefreshDecision,
      c14OverlapAwareMixing, c15CurationPipeline, c16RefreshExecution,
      c17RefreshedSelection, c18PackingExecution)
}
