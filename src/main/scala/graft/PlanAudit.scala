package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit: prints `explain("formatted")` for the headline
  * queries and greps each plan for the markers that must hold at scale —
  * parquet filter pushdown, pruned read schemas, broadcast joins on dims,
  * partial aggregation, whole-stage codegen, top-k via
  * TakeOrderedAndProject — and for the anti-markers that must NOT appear
  * (CartesianProduct anywhere, more shuffles than the operator needs).
  * Run:
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01"
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 --dump q24_asof_join"
  *
  * Exits non-zero if an expectation fails, so it can gate commits.
  *
  * It renders the at-scale program, `SparkEntry.programs`, with codegen
  * on — the plan its markers are about.  `SparkEntry.queries` runs a
  * query over small inputs (sf0.01 among them) interpreted
  * (`graftshim.InterpretedScope`): the same operators, without the
  * WholeStageCodegen wrapping.
  */
object PlanAudit {

  /** `present=true`: marker must occur 1..maxCount times.
    * `present=false`: marker must not occur at all. */
  final case class Expect(query: String, marker: String, why: String,
      present: Boolean = true, maxCount: Int = Int.MaxValue)

  val expectations: Seq[Expect] = Seq(
    Expect("q2_filter_pushdown", "PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_shipdate), GreaterThanOrEqual(l_quantity,49.0)",
      "selective predicates must reach the parquet scan"),
    Expect("q2_filter_pushdown", "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double",
      "only the 4 projected columns (+filter cols) may be read"),
    Expect("q1_pricing_summary", "HashAggregate",
      "partial+final hash aggregation (map-side combine)"),
    Expect("q1_pricing_summary", "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate,",
      "date filter must push to parquet"),
    Expect("q3_star_join_revenue", "BroadcastHashJoin",
      "dims must broadcast, not shuffle"),
    Expect("q4_top_customers", "TakeOrderedAndProject",
      "top-k must not global-sort"),
    Expect("q5_semi_join", "LeftSemi",
      "EXISTS must plan as a semi join"),
    Expect("q7_window_top_orders", "Window",
      "window function over one shuffle on the partition key"),
    Expect("s1_ann_bruteforce", "BroadcastNestedLoopJoin",
      "query side must broadcast; corpus scanned once"),
    Expect("s6_ann_quantized", "BroadcastNestedLoopJoin",
      "quantized query side must broadcast; corpus scanned once"),
    Expect("q31_topk_agg", "ObjectHashAggregate",
      "custom top-k aggregate runs in the object-hash agg path with a " +
        "partial/final split (map-side combine)"),
    Expect("q31_topk_agg", ") Window\n",
      "per-group top-k must not fall back to a window sort", present = false),
    Expect("a6_approx_distinct", "ObjectHashAggregate",
      "KMV sketch runs in the object-hash agg path with a partial/final " +
        "split — shuffle volume is ≤ k longs per group per mapper"),
    Expect("a6_approx_distinct", "hashpartitioning(",
      "ONE data shuffle on the group key; the sketch dedups internally " +
        "(no pre-shuffle DISTINCT)", maxCount = 1),
    Expect("q29_cube", ") Expand\n",
      "CUBE explodes grouping combinations map-side in ONE Expand pass",
      maxCount = 1),
    Expect("q30_full_outer", "FullOuter",
      "reconciliation must plan as a real full-outer join"),
    Expect("c5_stratified_sample", "BroadcastHashJoin",
      "the per-source rate table must broadcast; acceptance fuses into the scan"),
    Expect("t10_repetition", "hashpartitioning(",
      "bigram mode needs (doc_id,b) then doc_id then source — three data " +
        "shuffles, nothing more", maxCount = 3),
    Expect("q32_latest_per_key", "hashpartitioning(",
      "CDC compaction is ONE data shuffle on the key (max_by combines " +
        "map-side); only the ordered output repartitions by range", maxCount = 1),
    Expect("q32_latest_per_key", ") Window\n",
      "no window sort in the compaction", present = false),
    // round-2 additions (VERDICT.md #7)
    Expect("q24_asof_join", "hashpartitioning(",
      "as-of composes over ONE shuffle on the user key", maxCount = 1),
    Expect("q24_asof_join", "Join", "as-of is window-composed, not a join",
      present = false),
    Expect("q25_range_join", "BroadcastNestedLoopJoin",
      "band join must broadcast the small side"),
    Expect("q25_range_join", "CartesianProduct",
      "range join must not fall back to a cartesian", present = false),
    // ") Window\n" matches only a node-detail line "(N) Window" — not the
    // tree rendering and not WindowGroupLimit
    Expect("s4_ann_ivf", ") Window\n",
      "list assignment is an aggregate — only the query-side probe and the " +
        "final top-k may use a window", maxCount = 2),
    Expect("d3_minhash_lsh", "CartesianProduct",
      "LSH candidates come from a banded equi-join", present = false),
    // round-10: the hot-bucket occupancy guard must be IN the plan — a
    // per-row assert_true over a whole-partition window count on the
    // join key (not a broadcast join: a hint inside this cut-below
    // subplan would submit its future at construction), so a
    // boilerplate bucket fails loudly instead of expanding k²
    Expect("d3_minhash_lsh", "banded dedup hot bucket",
      "the occupancy guard must survive into the physical plan"),
    Expect("d3_minhash_lsh", "BroadcastNestedLoopJoin",
      "candidates, guard and verify are all equi-joins or window counts — " +
        "nothing may nested-loop", present = false),
    Expect("d4_simhash", "CartesianProduct",
      "SimHash candidates come from a banded equi-join", present = false),
    Expect("d5_embedding_neardup", "CollectLimit",
      "exact all-pairs must stay distributed (no driver materialization)",
      present = false),
    Expect("c1_corpus_curation", "LeftAnti",
      "near-dup removal is an anti-join against the small drop set"),
    Expect("c2_contamination", "LeftSemi",
      "contamination check is a semi-join on 16-byte fingerprints, " +
        "never a join on text"),
    Expect("c10_bloom_decontamination", "might_contain(Subquery",
      "the bloom is built IN-PLAN as a scalar subquery feeding " +
        "might_contain at the corpus scan — never a driver-side collect"),
    Expect("c10_bloom_decontamination", "coalesce(might_contain",
      "the NULL-bloom guard (empty bench slice keeps everything) must " +
        "survive into the physical plan"),
    Expect("c10_bloom_decontamination", "BroadcastHashJoin LeftAnti",
      "the exact re-check is a BROADCAST anti-join on the benchmark " +
        "fingerprints; only the bloom's candidates reach it"),
    Expect("c3_sequence_packing", "hashpartitioning(",
      "packing window and summary agg share ONE shuffle on (split, source); " +
        "only the tiny ordered output repartitions again", maxCount = 1),
    // NOTE: the literal below is java.sql.Timestamp.toString, rendered in the
    // JVM default timezone — build.sbt pins -Duser.timezone=UTC for every
    // forked run so this stays host-independent.
    Expect("q27_event_time_pushdown",
      "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,2024-01-10 00:00:00.0), " +
        "LessThan(ts,2024-01-11 00:00:00.0)]",
      "event-time range bounds must reach the parquet scan (native " +
        "TIMESTAMP(MICROS) pushdown; the NanosFilterPushdown rule covers " +
        "raw-nanos sources, spec-gated on its own fixture)"),
    Expect("q21_funnel", "hashpartitioning(",
      "funnel is conditional-min aggregation: one data shuffle on user_id, " +
        "no self-join, no window", maxCount = 1),
    Expect("q21_funnel", ") Window\n", "no window in the funnel",
      present = false),
    Expect("q28_hopping_window", "Expand",
      "sliding windows explode map-side (Expand), partial-agg before the shuffle"),
    Expect("q28_hopping_window", "hashpartitioning(",
      "one shuffle on (window, event_type); the final sort repartitions by range",
      maxCount = 1),
    Expect("t11_pii_scrub", "hashpartitioning(",
      "the scrub is scan-side and embarrassingly parallel — zero data " +
        "shuffles (only the ordered output range-partitions)", present = false),
    Expect("t12_url_domains", "TakeOrderedAndProject",
      "domain top-10 must not global-sort"),
    Expect("q35_scd2_intervals", ") Window\n",
      "validity intervals ride ONE lead() window on the key", maxCount = 1),
    Expect("q36_retention_cohorts", "CartesianProduct",
      "cohort join must be an equi-join on user_id", present = false),
    Expect("t13_vocab_oov", "BroadcastHashJoin",
      "the induced vocabulary must broadcast to the token stream — OOV " +
        "membership never shuffles the corpus"),
    Expect("q33_rank_family", ") Window\n",
      "ntile/percent_rank/cume_dist share ONE window (same partition+order " +
        "spec ⇒ one sort, one shuffle)", maxCount = 1),
    // round-3 additions
    Expect("q37_gaps_islands", "hashpartitioning(",
      "three shrinking shuffles — map-side-deduped (user,day) pairs, the " +
        "user_id window, the streak_len rollup — each stage's volume is a " +
        "fraction of the last (collapsing the first two would forfeit " +
        "map-side dedup of the raw event stream)", maxCount = 3),
    Expect("q38_max_concurrent", ") Window\n",
      "the sweep is ONE running-sum window on the group key", maxCount = 1),
    Expect("q38_max_concurrent", "hashpartitioning(",
      "boundary points shuffle ONCE on o_orderpriority; the rollup reuses " +
        "the window's partitioning", maxCount = 1),
    Expect("t14_freq_spectrum", "hashpartitioning(",
      "token counts (map-side combined) then the tiny band rollup — two " +
        "data shuffles, nothing more", maxCount = 2),
    Expect("d9_cluster_canonical", ") Window\n",
      "representative selection is a min_by aggregate, not a window sort",
      present = false),
    Expect("s7_ann_pq", "BroadcastHashJoin",
      "codebooks, ADC tables and the query side all broadcast — the codes " +
        "relation never shuffles full-width vectors"),
    Expect("s7_ann_pq", "CartesianProduct",
      "ADC candidates come from the (m, code) equi-join", present = false),
    Expect("q39_moving_avg", ") Window\n",
      "count and frame-sum share ONE ROWS-frame window (same spec ⇒ one " +
        "sort, one shuffle)", maxCount = 1),
    Expect("q39_moving_avg", "hashpartitioning(",
      "daily rollup on (priority, day) then the window on priority — two " +
        "data shuffles; the ordered output range-partitions", maxCount = 2),
    Expect("m4_resize_batches", "hashpartitioning(",
      "id-range batching needs ONE shuffle on the batch key (no row_number " +
        "window, no global sort)", maxCount = 1),
    Expect("m4_resize_batches", ") Window\n",
      "batching is id-range arithmetic, not a window", present = false),
    Expect("c8_curriculum_tiers", ") Window\n",
      "quartile tiering must not global-sort (broadcast cuts, not ntile)",
      present = false),
    Expect("c8_curriculum_tiers", "BroadcastNestedLoopJoin",
      "the 1-row percentile cuts broadcast back to the scan"),
    Expect("q40_robust_stats", "BroadcastHashJoin",
      "per-group medians broadcast back to the scan for the deviation pass"),
    Expect("q40_robust_stats", ") Window\n",
      "order statistics come from percentile aggregates, not window sorts",
      present = false),
    Expect("q41_unpivot", ") Generate\n",
      "the melt is ONE map-side stack generator", maxCount = 1),
    Expect("q41_unpivot", "hashpartitioning(",
      "reshaping shuffles nothing; only the (flag, measure) rollup does",
      maxCount = 1),
    Expect("s8_series_similarity", "BroadcastHashJoin",
      "the query-user series and norms broadcast; the corpus joins the " +
        "inverted day index once"),
    // round-4 additions
    Expect("q26_approx_percentiles", "hashpartitioning(",
      "histogram sketch: ONE fact shuffle on (priority, bucket) with " +
        "map-side combine, then the window + rank pick run over ~115 " +
        "bucket rows on priority — two data shuffles total", maxCount = 2),
    Expect("q26_approx_percentiles", ") Window\n",
      "cumulative + total counts are two Window nodes SHARING one sort and " +
        "one exchange over the ~115-row bucket histogram, never over the " +
        "fact table", maxCount = 2),
    Expect("a8_trending_bursts", "hashpartitioning(",
      "ONE fact shuffle for the (type, day) counts (map-side combined), " +
        "one for the lag window over the tiny per-day relation", maxCount = 2),
    Expect("a8_trending_bursts", ") Window\n",
      "one lag window, over the aggregated per-day relation only", maxCount = 1),
    // round-5 additions
    Expect("t16_bigram_surprisal", "BroadcastHashJoin",
      "both count joins-back broadcast the aggregated vocab-sized " +
        "relations — the fact bigrams are probed in place, so Zipf-hot " +
        "heads never land on one reducer (T16SkewSpec measures this " +
        "under a planted 40%-mass head); 2 joins × tree+detail = 4",
      maxCount = 4),
    Expect("t16_bigram_surprisal", "SortMergeJoin", present = false,
      why = "an SMJ here would re-shuffle the fact bigrams on their " +
        "skewed head key — the shape T16SkewSpec pins as fallback-only"),
    Expect("t17_vocab_scrub", "BroadcastHashJoin",
      "the top-K vocabulary broadcasts to the token stream (t13's plan, " +
        "executed) — membership must not shuffle the corpus; " +
        "tree+detail = 2", maxCount = 2),
    Expect("t17_vocab_scrub", "SortMergeJoin", present = false,
      why = "a vocab is small by construction; an SMJ means the " +
        "broadcast hint was lost and the corpus re-shuffled on token"),
    // round-6 additions
    Expect("m5_phash_dedup", "keys [1]: [pk#",
      "pHash candidates come from ONE equi-join on the packed 16-bit " +
        "pair-band key (28·65536 buckets — the Θ(n²/256) single-band " +
        "shape is the round-5 scale flaw); tree shows Left+Right keys",
      maxCount = 2),
    Expect("m5_phash_dedup", "keys [1]: [ph#", present = false,
      why = "no join may key on the raw 62-bit hash — candidates must " +
        "come from the banded key, the hamming verify is a residual " +
        "condition over candidates only"),
    // round-6 additions (d11 SemDeDup)
    Expect("d11_semantic_dedup", "BroadcastNestedLoopJoin",
      "centroid assignment must broadcast the k-row centroid set; the " +
        "corpus is scanned, never shuffled, for each assignment pass " +
        "(occurrence count tracks how often the explain tree repeats the " +
        "unshared assignment subtree — presence is the gate)"),
    Expect("d11_semantic_dedup", ") Window\n", present = false,
      why = "cluster argmin is min_by aggregation (map-side combine), " +
        "not a per-vector window sort"),
    // round-6 additions (a9 z-score anomaly, t18 PMI co-occurrence)
    Expect("a9_anomaly_zscore", "ReadSchema: struct<ts:timestamp,event_type:string>",
      "the anomaly test needs only (ts, event_type) — the scan must " +
        "prune the events table to 2 columns; the window then walks the " +
        "tiny per-hour relation, never the raw firehose"),
    Expect("a9_anomaly_zscore", "partial_count",
      "the hourly pre-aggregation must map-side-combine: the one " +
        "full-data shuffle carries one row per (mapper, type, hour) " +
        "bucket, not raw events", maxCount = 2),
    Expect("t18_cooccurrence", "BroadcastHashJoin",
      "the top-200 vocabulary broadcasts to BOTH sides of the doc_id " +
        "pair join (corpus never shuffles on token) and the pair join " +
        "itself may hash-join; tree+detail markers", maxCount = 8),
    Expect("t18_cooccurrence", "TakeOrderedAndProject",
      "both the vocab top-200 cut and the final top-50 must be " +
        "TakeOrderedAndProject (per-partition heap + merge), never a " +
        "global sort of the pair space", maxCount = 6),
    // round-6 additions (a10 Count-Min heavy hitters)
    Expect("a10_heavy_hitters", "partial_graft_cms",
      "the sketch pass must split partial/final: each mapper folds its " +
        "partition into a d·w counter array and the shuffle carries ONE " +
        "768-long vector per mapper, never per-key rows", maxCount = 1),
    Expect("a10_heavy_hitters", "ReadSchema: struct<user_id:bigint>",
      "both event scans (sketch build + candidate distinct) must prune " +
        "to the single sketched column", maxCount = 2),
    Expect("a10_heavy_hitters", "BroadcastNestedLoopJoin",
      "the finished 1-row sketch broadcasts to the candidate side (the " +
        "s1 constant-side pattern) — point estimates are a codegen'd " +
        "least(element_at...) projection, no shuffle of candidates"),
    Expect("a10_heavy_hitters", "TakeOrderedAndProject",
      "top-15 by estimate is a per-partition heap + merge, not a global " +
        "sort of the candidate set"),
    // round-7 additions (a11 token-weighted length quantiles)
    Expect("a11_weighted_quantiles", "ReadSchema: struct<text:string,source:string,n_chars:bigint>",
      "the scan must prune documents to the 3 needed columns"),
    Expect("a11_weighted_quantiles", "partial_sum(cast(size(split",
      "token weights must map-side-combine in the (source, n_chars) " +
        "groupBy — the one full-data shuffle carries one row per " +
        "distinct (group, value) pair, never the corpus", maxCount = 1),
    // round-7 additions (a12 KS drift, s9/d13 recall harnesses)
    Expect("d13_banding_recall", "BroadcastNestedLoopJoin", maxCount = 4,
      why = "only the two 1-row count aggregates may cross-join (the s1 " +
        "constant-side pattern, tree+detail = 4) — the pair-relation " +
        "overlap itself must stay an equi-join on (doc_a, doc_b)"),
    Expect("a12_distribution_drift", "ReadSchema: struct<ts:timestamp,event_type:string,value:double>",
      "the drift scan must prune events to the 3 needed columns"),
    Expect("a12_distribution_drift", "partial_sum(CASE WHEN (period",
      "the per-period counters must map-side-combine in the (type, " +
        "value) collapse — the one full-data shuffle carries one row per " +
        "distinct triple, never raw events (2 = the d0+d1 counter pair " +
        "in the one partial aggregate)", maxCount = 2),
    Expect("a12_distribution_drift", "hashpartitioning(", maxCount = 2,
      why = "exactly 2 data shuffles: the (type, value) collapse and one " +
        "per-type exchange shared by the KS windows and the final max " +
        "agg — the 1-row midpoint joins in as a broadcast"),
    Expect("s9_ann_recall", "SortMergeJoin", present = false,
      why = "every harness join (ground truth, per-tier hits, per-tier " +
        "counts) is over <=k*|queries| rows and must broadcast — an SMJ " +
        "means a tiny relation got shuffled"),
    Expect("s10_index_recall", "SortMergeJoin", present = false,
      why = "the index-tier harness (IVF/PQ vs exact) joins the same " +
        "<=k*|queries|-row relations as s9 and must broadcast throughout — " +
        "an SMJ means a tiny relation got shuffled"),
    // round-7 additions (m6 audio QA, t19 encoding QA)
    Expect("m6_audio_stats", "ReadSchema: struct<doc_id:bigint,text:string>",
      "the audio-blob scan must prune documents to (doc_id, text)"),
    Expect("m6_audio_stats", "TakeOrderedAndProject",
      "worst-20 triage is a per-partition heap + merge over the decoded " +
        "stats, never a global sort of the blob set"),
    Expect("m6_audio_stats", "hashpartitioning(", present = false,
      why = "the decode kernel is embarrassingly parallel over blobs — " +
        "zero data shuffles (the top-k merges on the driver)"),
    Expect("t19_encoding_qa", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the scan must prune documents to the 3 needed columns"),
    Expect("t19_encoding_qa", "partial_count(1)",
      "the damage counters must map-side-combine: the only data shuffle " +
        "is the tiny per-source rollup, the char counting itself is " +
        "scan-side codegen", maxCount = 1),
    Expect("t19_encoding_qa", "hashpartitioning(", maxCount = 1,
      why = "exactly 1 data shuffle (the per-source rollup) — the " +
        "plant/count pipeline must stay scan-side"),
    Expect("a11_weighted_quantiles", "hashpartitioning(", maxCount = 2,
      why = "exactly 2 data shuffles: the value-collapse hash and one " +
        "shared per-source exchange feeding BOTH windows AND the final " +
        "conditional-min agg (no quantile join, only the ordered output " +
        "range-partitions) — a 3rd means a window or the agg re-shuffled"),
    // round-8 additions (a13 binned drift, t21 BPE application)
    Expect("a13_binned_drift", "ReadSchema: struct<ts:timestamp,event_type:string,value:double>",
      "the binned-drift scan must prune events to the 3 needed columns"),
    Expect("a13_binned_drift", "partial_sum(CASE WHEN (period",
      "the per-period counters must map-side-combine in the (type, bin) " +
        "collapse — the one full-data shuffle carries at most " +
        "|types|*256 rows, never raw events (2 = the d0+d1 counter pair)",
      maxCount = 2),
    Expect("a13_binned_drift", "hashpartitioning(", maxCount = 2,
      why = "exactly 2 data shuffles: the (type, bin) collapse and one " +
        "per-type exchange shared by the KS windows and the final max " +
        "agg — the 1-row min/max cuts row joins in as a broadcast"),
    // round-9 additions (t21 one-pass encoder)
    Expect("t21_bpe_apply", "Scan parquet", maxCount = 2,
      why = "the one-pass encoder touches the corpus EXACTLY ONCE (tree+" +
        "detail = 2) — the trainer reads only lineage-cut sample " +
        "relations (Scan ExistingRDD); more parquet scans means a " +
        "corpus-wide re-read leaked into the default path"),
    Expect("t21_bpe_apply", "BroadcastNestedLoopJoin Cross BuildRight",
      "the rank-ordered merge table joins in as ONE broadcast row — the " +
        "corpus side must never shuffle for the rule application",
      maxCount = 1),
    Expect("t21_bpe_apply", "graft_bpe_apply",
      "the application must run through the codegen'd kernel expression, " +
        "not window passes"),
    // t22 fertility (round-13: t21's one-pass shape — same gates)
    Expect("t22_bpe_fertility", "Scan parquet", maxCount = 2,
      why = "the fertility scan touches the corpus EXACTLY ONCE (tree+" +
        "detail = 2) — the trainer reads only lineage-cut sample " +
        "relations; more parquet scans means a corpus re-read leaked in"),
    Expect("t22_bpe_fertility", "BroadcastNestedLoopJoin Cross BuildRight",
      "the rank-ordered merge table joins in as ONE broadcast row",
      maxCount = 1),
    Expect("t22_bpe_fertility", "graft_bpe_apply",
      "fertility must price the PRODUCTION encoder — the codegen'd " +
        "kernel, not window passes"),
    Expect("t22_bpe_fertility", "SortMergeJoin", present = false,
      why = "one corpus scan + one broadcast row + one per-source " +
        "aggregate — an SMJ means something corpus-sized got shuffled " +
        "on a join key"),
    // round-9 additions (d14 incremental dedup, s11 embedding drift)
    Expect("d14_incremental_dedup", "BroadcastHashJoin",
      "the incoming batch's band keys must PROBE the bucket relation " +
        "(broadcast batch side) — the incremental path exists so the " +
        "archive is never re-joined against itself"),
    Expect("s11_embedding_drift", "TakeOrderedAndProject", maxCount = 2,
      why = "the top-5 moved dimensions must be a per-partition heap + " +
        "merge, never a global sort (tree+detail = 2)"),
    Expect("s11_embedding_drift", "hashpartitioning(", maxCount = 2,
      why = "exactly 2 data shuffles (the 64-row dim aggregate and the " +
        "1-row period counts) — the per-dim sums must map-side-combine " +
        "below them"),
    // round-10 additions (s12 variance drift — s11's plan shape verbatim)
    Expect("s12_variance_drift", "TakeOrderedAndProject", maxCount = 2,
      why = "the top-5 spread-shifted dimensions must be a per-partition " +
        "heap + merge, never a global sort (tree+detail = 2)"),
    Expect("s12_variance_drift", "hashpartitioning(", maxCount = 2,
      why = "exactly 2 data shuffles — the per-dim squared sums must " +
        "map-side-combine below the 64-row dim aggregate"),
    // round-11 additions (s13 index staleness — gates for the round-10 query)
    Expect("s13_index_staleness", "BroadcastNestedLoopJoin",
      "seed/centroid assignment and the 1-row total must BROADCAST to " +
        "the corpus (the d11/s1 constant-side pattern) — the corpus is " +
        "scanned, never shuffled, for each assignment pass", maxCount = 10),
    Expect("s13_index_staleness", "SortMergeJoin", present = false,
      why = "every join side here is either the broadcast centroid set " +
        "or the 1-row total — an SMJ means the corpus got shuffled on a " +
        "join key"),
    Expect("s13_index_staleness", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must prune to (vec_id, embedding) and is read " +
        "ONCE into the shared persisted relation both assignment passes " +
        "and both k-means passes reuse", maxCount = 1),
    Expect("s13_index_staleness", "hashpartitioning(", maxCount = 6,
      why = "bounded shuffle budget, tightened r17: the argmin passes " +
        "are now map-side graft_nearest projections (zero exchanges), " +
        "leaving only the one-exchange graft_vec_sum centroid update " +
        "(list_id) and the per-cell report (list_id), rendered ≤ 2x by " +
        "the InMemoryRelation tree+detail duplication; a 7th occurrence " +
        "means an argmin re-grew its corpus shuffle"),
    // round-12 additions (d16 cross-source overlap — the r11 VERDICT #2
    // gate set: the counts relation is persisted, so the corpus aggregate
    // executes once no matter how many consumers read it)
    Expect("d16_source_overlap", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to (text, source) and appear ONCE — " +
        "the corpus is read exactly once into the persisted counts " +
        "relation (round 11 shipped this unpersisted: 3 corpus scans)",
      maxCount = 1),
    Expect("d16_source_overlap", "InMemoryRelation",
      "the ≤ S+S²/2-row counts relation must sit behind a persist " +
        "boundary — its three consumers (shared-pairs filter + two " +
        "per-source joins-back) share one materialization (tree renders " +
        "the cached subtree per consumer: 3 tree + 3 detail)", maxCount = 6),
    Expect("d16_source_overlap", "hashpartitioning(", maxCount = 3,
      why = "exactly 3 data shuffles, all below the persist boundary " +
        "(the scale-adaptive scan spread on doc_id, groupBy(shingle) " +
        "and the (src_a,src_b) collapse); the joins-back broadcast the " +
        "tiny per-source slice and only the ordered output " +
        "range-partitions"),
    Expect("d16_source_overlap", "SortMergeJoin", present = false,
      why = "every join side is a filtered slice of the tiny persisted " +
        "counts relation — an SMJ means a per-source slice got shuffled"),
    // s14 PQ staleness (the s13 gates applied to the fine level)
    Expect("s14_pq_staleness", "BroadcastHashJoin",
      "both codebook assignment passes join the PqM·PqK codebook to the " +
        "subvector relation as a BROADCAST on m — the corpus side is " +
        "scanned, never shuffled, for each pass", maxCount = 10),
    Expect("s14_pq_staleness", "SortMergeJoin", present = false,
      why = "every join side is the broadcast codebook — an SMJ means " +
        "the subvector relation got shuffled on a join key"),
    Expect("s14_pq_staleness", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must prune to (vec_id, embedding) and is read " +
        "ONCE into the shared persisted subvector relation", maxCount = 1),
    Expect("s14_pq_staleness", "hashpartitioning(", maxCount = 6,
      why = "bounded shuffle budget, tightened r17: the per-(vec_id,m) " +
        "argmin passes are now map-side graft_nearest projections (zero " +
        "exchanges), leaving the one-exchange graft_vec_sum codebook " +
        "update (m,code) and the PqM-row report (m), rendered ≤ 2x by " +
        "the InMemoryRelation tree+detail duplication"),
    // s15 warm-start refresh (the s13 gate set plus the joins-back)
    Expect("s15_warmstart_refresh", "BroadcastNestedLoopJoin",
      "every centroid assignment pass (archive training, stale " +
        "assignment, refreshed assignment) BROADCASTS the ≤ k-row " +
        "centroid set to the corpus — the corpus is scanned, never " +
        "shuffled, for each argmin", maxCount = 12),
    Expect("s15_warmstart_refresh", "BroadcastHashJoin",
      "the refreshed-centroid build and both per-cell stats join as " +
        "BROADCASTS onto the ≤ k-row index relation", maxCount = 8),
    Expect("s15_warmstart_refresh", "SortMergeJoin", present = false,
      why = "every join side is ≤ k rows (stale index, update output, " +
        "per-cell stats) — an SMJ means a tiny relation got shuffled"),
    Expect("s15_warmstart_refresh", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must prune to (vec_id, embedding) and is " +
        "read ONCE into the memoized quantized relation shared with s13",
      maxCount = 1),
    Expect("s15_warmstart_refresh", "hashpartitioning(", maxCount = 11,
      why = "bounded shuffle budget: the training argmin + two-stage " +
        "update (s13's 3), the stale-assignment argmin, the warm-start " +
        "two-stage update, the refreshed argmin and the two ≤ k-row " +
        "stats rollups — ≤ 9 logical data shuffles, rendered with " +
        "InMemoryRelation tree+detail duplication; a 12th occurrence " +
        "means a corpus-sized shuffle leaked in"),
    // s17 PQ warm-start refresh (round-13: s15's gate set at the fine
    // level — broadcast codebooks, one pruned scan, bounded shuffles)
    Expect("s17_pq_refresh", "BroadcastHashJoin",
      "every codebook pass (archive training, stale assignment, " +
        "refreshed assignment, the report joins-back) joins the " +
        "PqM·PqK-row codebooks as a BROADCAST on m — the subvector " +
        "relation is scanned, never shuffled", maxCount = 20),
    Expect("s17_pq_refresh", "SortMergeJoin", present = false,
      why = "every join side is the broadcast codebook relation or a " +
        "≤ PqM·PqK-row stats rollup — an SMJ means the corpus got " +
        "shuffled on a join key"),
    Expect("s17_pq_refresh", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must prune to (vec_id, embedding) and is " +
        "read ONCE into the memoized subvector relation shared with s14",
      maxCount = 1),
    Expect("s17_pq_refresh", "hashpartitioning(", maxCount = 11,
      why = "bounded shuffle budget: the training argmin + two-stage " +
        "codebook update (s14's), the stale argmin, the warm-start " +
        "two-stage update, the refreshed argmin and the two per-(m,code) " +
        "stats rollups — rendered with InMemoryRelation tree+detail " +
        "duplication; a 12th occurrence means a corpus-sized shuffle " +
        "leaked in"),
    // s16 radius-completeness certificate (round-12: the frontier close —
    // the cert must stay Θ(n·k), never run the pair join it prices)
    Expect("s16_radius_cert", "BroadcastNestedLoopJoin",
      "both centroid passes (training argmin, radius assignment) " +
        "BROADCAST the ≤ k-row cell set to the normalized corpus — the " +
        "corpus is scanned, never shuffled, per pass", maxCount = 4),
    Expect("s16_radius_cert", "SortMergeJoin", present = false,
      why = "the only joins are the broadcast centroid crossJoins — an " +
        "SMJ means the corpus got shuffled on a join key"),
    Expect("s16_radius_cert", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must prune to (vec_id, embedding) and is " +
        "read ONCE into the memoized normalized-grid relation", maxCount = 1),
    Expect("s16_radius_cert", "hashpartitioning(", maxCount = 6,
      why = "bounded shuffle budget: the training argmin (vec_id), the " +
        "two-stage centroid update (list_id,pos → list_id), the " +
        "per-vector distance-set aggregate (vec_id) and the 5-row τ " +
        "report — 5 logical data shuffles; a 7th occurrence means the " +
        "certificate started paying for the pair join it exists to price"),
    // c11 DSIR importance selection (round-12)
    Expect("c11_dsir_selection", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to the 3 needed columns and is read " +
        "ONCE into the persisted token relation both passes (bucket " +
        "counts, raw-side scoring) share", maxCount = 1),
    Expect("c11_dsir_selection", "BroadcastHashJoin",
      "the ≤ B-row weight table BROADCASTS onto the raw token stream — " +
        "the corpus never shuffles for the scoring join", maxCount = 4),
    Expect("c11_dsir_selection", "SortMergeJoin", present = false,
      why = "the only join side is the 1024-row weight table — an SMJ " +
        "means the token relation got shuffled on the bucket key"),
    Expect("c11_dsir_selection", "TakeOrderedAndProject", maxCount = 2,
      why = "the top-k selection must be a per-partition heap + merge, " +
        "never a global sort of the scored pool"),
    Expect("c11_dsir_selection", "hashpartitioning(", maxCount = 3,
      why = "exactly 2 data shuffles — the map-side-combined bucket " +
        "counts (b) and the per-doc score aggregate (doc_id); the " +
        "totals window rides a 1024-row SinglePartition exchange, and " +
        "a 4th hash shuffle means the broadcast or the heap regressed"),
    // c12 selector staleness (round-12: the stored-model maintenance
    // discipline applied to the DSIR selector)
    Expect("c12_selector_staleness", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to the 3 needed columns and appear " +
        "ONCE — all three slice counters fold in a single corpus pass",
      maxCount = 1),
    Expect("c12_selector_staleness", "hashpartitioning(", maxCount = 1,
      why = "exactly 1 data shuffle — the map-side-combined bucket " +
        "aggregate (b); the totals window rides a ≤ B-row " +
        "SinglePartition exchange and the cut is a heap"),
    Expect("c12_selector_staleness", "TakeOrderedAndProject", maxCount = 2,
      why = "the top-k drifting buckets must be a per-partition heap + " +
        "merge, never a global sort"),
    Expect("c12_selector_staleness", "Join", present = false,
      why = "the audit is one aggregate + one window — any join node " +
        "means a second pass leaked in"),
    // d17 cross-source overlap sketch (round-12: d16's bounded scale path)
    Expect("d17_overlap_sketch", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to (text, source) and appear ONCE — " +
        "the persisted ≤ |sources|-row sketch relation feeds BOTH pair " +
        "sides (unpersisted, the corpus is shingled twice — d16's " +
        "round-11 defect class)", maxCount = 1),
    Expect("d17_overlap_sketch", "InMemoryRelation",
      "the sketch relation must sit behind a persist boundary (tree + " +
        "detail per join side = 4 renders)", maxCount = 4),
    Expect("d17_overlap_sketch", "ObjectHashAggregate",
      "graft_kmv_mins must plan as ObjectHashAggregate with a " +
        "partial/final split — the map-side combine is the whole point " +
        "(shuffle ≤ k longs per source per mapper); the pair renders the " +
        "cached subtree per join side plus details (≤ 8)", maxCount = 8),
    Expect("d17_overlap_sketch", "SortMergeJoin", present = false,
      why = "the pair join is over the ≤ |sources|-row sketch relation " +
        "and must broadcast — an SMJ means a tiny relation got shuffled"),
    Expect("d17_overlap_sketch", "hashpartitioning(", maxCount = 3,
      why = "exactly 1 data shuffle (the per-source sketch aggregate, " +
        "map-side combined to ≤ k longs per source); the ordered output " +
        "range-partitions — a 3rd occurrence means the corpus leaked " +
        "into the pair arithmetic"),
    // d18 three-way overlap (round-13: d17's estimator on source
    // triples — SAME persisted synopsis relation, no new corpus pass)
    Expect("d18_threeway_overlap", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to (text, source) and appear ONCE — " +
        "all three sides of the triple join read the persisted " +
        "≤ |sources|-row sketch relation", maxCount = 1),
    Expect("d18_threeway_overlap", "InMemoryRelation",
      "the sketch relation must sit behind a persist boundary (tree + " +
        "detail per triple side = 6 renders)", maxCount = 6),
    Expect("d18_threeway_overlap", "ObjectHashAggregate",
      "graft_kmv_mins must plan as ObjectHashAggregate with a " +
        "partial/final split — map-side combine bounds the one shuffle " +
        "at ≤ k longs per source per mapper (≤ 4 renders per side)",
      maxCount = 12),
    Expect("d18_threeway_overlap", "SortMergeJoin", present = false,
      why = "the triple join is over the ≤ |sources|-row sketch " +
        "relation and must broadcast — an SMJ means a tiny relation " +
        "got shuffled"),
    Expect("d18_threeway_overlap", "hashpartitioning(", maxCount = 3,
      why = "exactly 1 data shuffle (the per-source sketch aggregate); " +
        "the ordered output range-partitions — a 3rd occurrence means " +
        "the corpus leaked into the triple arithmetic"),
    // c14 overlap-aware mixing (round-14: the c4 ← d17/d18 consumption
    // loop — effective mass from the SAME persisted synopsis relation)
    Expect("c14_overlap_aware_mixing", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to (text, source) and appear ONCE — " +
        "singles, pair discounts and triple add-backs all read the " +
        "persisted ≤ |sources|-row sketch relation, never the corpus",
      maxCount = 1),
    Expect("c14_overlap_aware_mixing", "InMemoryRelation",
      "the sketch relation must sit behind a persist boundary (tree + " +
        "detail across the 6 consumer sides = 12 renders)", maxCount = 12),
    Expect("c14_overlap_aware_mixing", "SortMergeJoin", present = false,
      why = "every join is over ≤ S²/S³-row estimator relations and must " +
        "broadcast — an SMJ means a tiny relation got shuffled"),
    Expect("c14_overlap_aware_mixing", "hashpartitioning(", maxCount = 4,
      why = "exactly 3 bounded shuffles: the per-source sketch aggregate " +
        "(map-side combined, ≤ k longs/source) and the two ≤ S-row " +
        "discount/add-back aggregates — a 4th means the corpus leaked " +
        "into the mixing arithmetic"),
    // c15 end-to-end curation pipeline (round-14: the capstone
    // composition — dedup → decontaminate → select → mix → pack as one
    // dataflow over ONE selected-relation cut)
    Expect("c15_curation_pipeline", "Scan parquet", present = false,
      why = "every corpus pass rides the one-shot selected cut and the " +
        "memoized graph/token relations inside it — a parquet scan in " +
        "the FINAL plan means a stage re-scans the corpus"),
    Expect("c15_curation_pipeline", "at cut at Dedup.scala", maxCount = 2,
      why = "both consumers (the rates aggregate and the mixing join) " +
        "must read THE one persisted selected cut — more cut scans " +
        "means the boundary was rebuilt per consumer"),
    Expect("c15_curation_pipeline", "SortMergeJoin", present = false,
      why = "the only join left above the cut is the ≤ |sources|-row " +
        "rates relation, which must broadcast"),
    Expect("c15_curation_pipeline", "hashpartitioning(", maxCount = 4,
      why = "two data shuffles above the cut (the per-source rates " +
        "aggregate and the packing window's (split, source) partition) " +
        "plus the cut RDD's own doc_id layout rendered per consumer — " +
        "more means a stage leaked a corpus shuffle"),
    Expect("c15_curation_pipeline", "Window", maxCount = 4,
      why = "exactly two windows (rates totals over ≤ |sources| rows, " +
        "packing cumsum per (split, source)); tree + detail = 4 renders"),
    // c13 refresh decision (round-13: the maintenance triad composed —
    // three family legs unioned, each riding its memoized audit
    // relations, so the decision costs ~one audit per family)
    Expect("c13_refresh_decision", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must prune to (vec_id, embedding) and appear " +
        "at most TWICE — once into the ivf leg's memoized quantized " +
        "relation (shared with s13/s15), once into the pq leg's memoized " +
        "subvector relation (shared with s14)", maxCount = 2),
    Expect("c13_refresh_decision", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must prune to the 3 needed columns and appear " +
        "ONCE — the selector leg's staleness AND retrain benefit fold in " +
        "c12's single corpus token pass", maxCount = 1),
    Expect("c13_refresh_decision", "SortMergeJoin", present = false,
      why = "every join side is a broadcast model relation (≤ k " +
        "centroids / PqM·PqK codebooks / 1-row totals) — an SMJ means a " +
        "corpus-sized relation got shuffled on a join key"),
    Expect("c13_refresh_decision", "BroadcastNestedLoopJoin",
      "every centroid-assignment pass (ivf training, stale, refreshed) " +
        "and every 1-row leg combine BROADCASTS the constant side to the " +
        "scanned relation (hermetic per-query rendering, r15)",
      maxCount = 18),
    Expect("c13_refresh_decision", "hashpartitioning(", maxCount = 25,
      why = "bounded shuffle budget: the ivf leg's s13/s15 chain, the pq " +
        "leg's s14 chain + s17's warm-start update and per-(m,code) " +
        "rollups (all ≤ PqM·PqK-row relations), the selector leg's " +
        "single bucket aggregate — ≤ 25 rendered hermetically; a 26th " +
        "occurrence means a corpus-sized shuffle leaked into the " +
        "composition"),
    // c16 refresh execution (round-14: c13's verdicts ACTED on — the
    // serving-parameter export must ride the decision's own memoized
    // relations, adding no corpus pass beyond deciding)
    Expect("c16_refresh_execution", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan budget is c13's — at most TWICE (the ivf " +
        "leg's memoized quantized relation, the pq leg's memoized " +
        "subvector relation); the parameter exports read the same " +
        "memoized refreshed-model relations, never the corpus", maxCount = 2),
    Expect("c16_refresh_execution", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "the documents scan must appear ONCE — the selector verdict AND " +
        "the serving-weight export both read the memoized persisted " +
        "drift-counts relation (one corpus token pass per session)",
      maxCount = 1),
    Expect("c16_refresh_execution", "SortMergeJoin", present = false,
      why = "every join side is a broadcast relation (3-row verdicts, " +
        "≤ k/PqM·PqK-row parameter relations, ≤ B-row weights) — an SMJ " +
        "means a corpus-sized relation got shuffled"),
    Expect("c16_refresh_execution", "BroadcastNestedLoopJoin", maxCount = 23,
      why = "c13's assignment/combine broadcasts (≤ 18 rendered — the " +
        "c13 budget's rationale) plus the verdict joins; a 24th " +
        "occurrence means a new non-broadcast combine appeared"),
    Expect("c16_refresh_execution", "hashpartitioning(", maxCount = 29,
      why = "c13's ≤ 25 rendered shuffles plus the parameter-export " +
        "rollups over ≤ PqM·PqK-row relations — a 30th occurrence means " +
        "a corpus-sized shuffle leaked into the execution step"),
    // s18 serving through the executed IVF index (round-14: the
    // serve-again step — the verdict must pick the index DECLARATIVELY
    // and the corpus must pay one scan + one broadcast argmin)
    Expect("s18_refreshed_serving", "SortMergeJoin", present = false,
      why = "every join side is broadcast (1-row verdict, ≤ k-row " +
        "serving index, ≤ nprobe·|queries|-row probe set) — an SMJ " +
        "means the corpus got shuffled on a join key"),
    Expect("s18_refreshed_serving", "BroadcastHashJoin",
      "the candidate re-rank joins the probed (q_id, list_id) set as a " +
        "BROADCAST onto the assignment — the corpus-sized side is " +
        "scanned, never shuffled, for the join", maxCount = 18),
    Expect("s18_refreshed_serving", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "embeddings scan budget: s18's own emb-carrying scan plus the " +
        "ivf verdict's memoized quantized relation — a third means a " +
        "consumer re-scanned the corpus", maxCount = 2),
    Expect("s18_refreshed_serving", "hashpartitioning(", maxCount = 17,
      why = "bounded shuffle budget: the decision chain's ≤ 11 (s13/s15 " +
        "audit rollups), the serving argmin's map-side combine and the " +
        "final per-query window — ≤ 17 rendered hermetically; an 18th " +
        "occurrence means a corpus-sized shuffle leaked into the " +
        "serving path"),
    // s19 ADC under the executed PQ codebooks (round-14: the PQ
    // serve-again step — distance tables broadcast, ADC sum map-side)
    Expect("s19_refreshed_adc", "SortMergeJoin", present = false,
      why = "every join side is broadcast (1-row verdict, PqM·PqK-row " +
        "serving codebooks, ≤ 640-row distance tables) — an SMJ means " +
        "the encoded corpus got shuffled on a join key"),
    Expect("s19_refreshed_adc", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "the embeddings scan must appear ONCE — encoding, the distance " +
        "tables and the decision chain all ride the memoized subvector " +
        "relation", maxCount = 1),
    Expect("s19_refreshed_adc", "hashpartitioning(", maxCount = 17,
      why = "bounded shuffle budget: the decision chain's s14/s17 " +
        "rollups, the encoding argmin's map-side combine and the ONE " +
        "(q_id, vec_id) ADC aggregate — ≤ 17 rendered hermetically; an " +
        "18th occurrence means an extra corpus-sized shuffle leaked " +
        "into the ADC path"),
    // c17 selection under the executed selector weights (round-14: the
    // selector serve-again step — next-epoch admission)
    Expect("c17_refreshed_selection", "SortMergeJoin", present = false,
      why = "the served weight table joins the incoming token stream as " +
        "a BROADCAST — an SMJ means the token stream got shuffled for " +
        "the join"),
    Expect("c17_refreshed_selection", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "documents scan budget: the memoized drift-counts token pass plus " +
        "the incoming-slice scoring pass — a third means a consumer " +
        "re-tokenized the corpus", maxCount = 2),
    Expect("c17_refreshed_selection", "hashpartitioning(", maxCount = 3,
      why = "the drift-counts bucket aggregate, and the per-doc score " +
        "aggregate — a 4th occurrence means a corpus-sized shuffle " +
        "leaked into the admission pass"),
    Expect("c17_refreshed_selection", "TakeOrderedAndProject",
      "the admission cut is a top-k heap, never a global sort",
      maxCount = 2),
    // s20 composed IVF-ADC under both executed models (round-14): the
    // posting-list layout must build in one lineage — no corpus-corpus
    // join anywhere
    Expect("s20_ivfpq_serving", "SortMergeJoin", present = false,
      why = "the posting-list layout (cell + codes) builds in ONE " +
        "lineage and every join side is broadcast (verdicts, serving " +
        "index/codebooks, probe set, distance tables) — an SMJ means " +
        "two corpus-sized relations got joined"),
    Expect("s20_ivfpq_serving", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>",
      "embeddings scan budget: the memoized quantized relation and the " +
        "memoized subvector relation (query-side distance tables) — a " +
        "third means a consumer re-scanned the corpus", maxCount = 2),
    Expect("s20_ivfpq_serving", "hashpartitioning(", maxCount = 31,
      why = "bounded shuffle budget: BOTH families' decision chains, the " +
        "cell argmin, the per-(vec, m) code argmin and the ONE scoped " +
        "ADC aggregate — ≤ 31 rendered hermetically; a 32nd occurrence " +
        "means an extra corpus-sized shuffle leaked in"),
    // c18 packing execution (round-14: c3's plan made physical — one
    // stream shuffle, nothing else)
    Expect("c18_packing_execution", "ReadSchema: struct<doc_id:bigint,text:string,source:string>",
      "ONE pruned documents scan feeds the whole placement", maxCount = 1),
    Expect("c18_packing_execution", "hashpartitioning(", maxCount = 1,
      why = "exactly ONE data shuffle — the (split, source) stream " +
        "partitioning the running window rides; the final ordering is a " +
        "range exchange, and a 2nd hash shuffle means the placement " +
        "arithmetic left the window"),
    Expect("c18_packing_execution", ") Window\n",
      "the running token count is ONE window over the stream partitioning",
      maxCount = 2))

  private def occurrences(plan: String, marker: String): Int = {
    var i = plan.indexOf(marker)
    var n = 0
    while (i >= 0) { n += 1; i = plan.indexOf(marker, i + marker.length) }
    n
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val dump = args.sliding(2).collectFirst { case Array("--dump", q) => q }
    val spark = Harness.session("4", "spark.sql.session.timeZone" -> "UTC")
    spark.sparkContext.setLogLevel("ERROR")

    val planCache = scala.collection.mutable.Map.empty[String, String]
    // HERMETIC per-query plans (round 15): each query's plan evidence is
    // rendered from a clean session state — CacheManager and session
    // memos cleared first — so a section never depends on which queries
    // were built before it.  Before this, building c13 first left its
    // memoized persisted audit relations in the shared CacheManager and
    // a later s13 section rendered THEIR expanded InMemoryRelation trees
    // (BNLJ count 8 → 30 for the identical s13 program), which made the
    // occurrence budgets order-tuned instead of plan-tuned.  Within one
    // query the family memos still apply (the plan honestly renders the
    // materialized relations the real execution would reuse).
    def planOf(name: String): String = planCache.getOrElseUpdate(name, {
      Harness.clearCaches(spark)
      SparkEntry.programs(name)(spark, dir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
    })

    // --dump accepts a comma-separated list (or ALL = every registered
    // query) and emits EXPLAIN.md-shaped markdown (one "## name" + fenced
    // plan per query)
    dump.foreach { qs =>
      val names =
        if (qs == "ALL") SparkEntry.programs.keys.toSeq.sorted
        else qs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val md = names.map(q => s"## $q\n\n```\n${planOf(q)}```\n").mkString("\n")
      // sbt's logger prefixes (and drops blank) stdout lines from forked
      // runs, so stdout redirection mangles the markdown — `--out FILE`
      // writes it directly. EXPLAIN.md regeneration:
      //   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 --dump ALL --out EXPLAIN.md"
      args.sliding(2).collectFirst { case Array("--out", f) => f } match {
        case Some(f) => java.nio.file.Files.write(
          java.nio.file.Paths.get(f),
          md.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        case None => println(md)
      }
      spark.stop(); sys.exit(0)
    }

    var failed = 0
    val byQuery = expectations.groupBy(_.query)
    byQuery.toSeq.sortBy(_._1).foreach { case (name, exps) =>
      val plan = planOf(name)
      exps.foreach { e =>
        val n = occurrences(plan, e.marker)
        val ok = if (e.present) n >= 1 && n <= e.maxCount else n == 0
        if (!ok) failed += 1
        println(s"${if (ok) "OK  " else "FAIL"} $name :: ${e.marker.take(60)} x$n  (${e.why})")
        if (!ok) {
          println("---- plan ----")
          println(plan)
        }
      }
    }
    // Registry↔EXPLAIN.md drift gate (round-12 process fix): the committed
    // plan-evidence file must carry exactly one section per registered
    // query.  ExplainCoverageSpec asserts the same thing at test time, but
    // the round-10 and round-11 snapshots both added a query without
    // regenerating EXPLAIN.md and shipped a red suite — putting the check
    // in PlanAudit's DEFAULT run means the standard pre-commit gate
    // (which every query addition already runs for its plan expectations)
    // fails loudly before the commit, not after.
    val explainPath = java.nio.file.Paths.get("EXPLAIN.md")
    if (java.nio.file.Files.exists(explainPath)) {
      import scala.jdk.CollectionConverters._
      val sections = java.nio.file.Files.readAllLines(explainPath).asScala
        .filter(_.startsWith("## ")).map(_.stripPrefix("## ").trim).toSet
      val want = SparkEntry.programs.keySet
      if (sections != want) {
        failed += 1
        println(s"FAIL EXPLAIN.md drifted from the query registry — " +
          s"missing: ${(want -- sections).toSeq.sorted.mkString(", ")}; " +
          s"stale: ${(sections -- want).toSeq.sorted.mkString(", ")}. " +
          "Regenerate: sbt \"runMain graft.PlanAudit /root/testdata/sf0.01 --dump ALL --out EXPLAIN.md\"")
      } else println(s"OK   EXPLAIN.md carries all ${want.size} registered queries")
    } else println("WARN EXPLAIN.md not found (run from repo root to gate it)")
    // Global sweep: a CartesianProduct in ANY registered query is a scale
    // bug — every join must be an equi/broadcast/banded form.
    SparkEntry.programs.keys.toSeq.sorted.foreach { name =>
      try {
        val n = occurrences(planOf(name), "CartesianProduct")
        val ok = n == 0
        if (!ok) {
          failed += 1
          println(s"FAIL $name :: global CartesianProduct sweep x$n")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"FAIL $name :: plan build threw ${e.getMessage}")
      }
    }
    println(s"sweep: ${SparkEntry.programs.size} queries checked for CartesianProduct")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
