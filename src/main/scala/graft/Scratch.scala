package graft

// Plan-audit / profiling harness (tooling, not part of the library surface).
// Writes PLANS.md: the physical plans of the scale-critical queries.
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = "/root/testdata/sf0.01"
    val interesting = Seq(
      "q_point_lookup" -> "partition-pruned point lookup on the hour store",
      "q_range_scan" -> "range scan: bucket predicate DERIVED by the optimizer rule",
      "q_join_snowflake" -> "snowflake: chained broadcast joins, fact never re-shuffles",
      "q_semi_join" -> "left-semi with the quantity filter pushed to parquet",
      "q_window_hourly" -> "map-side-combined two-phase aggregation",
      "q_bucketed_pivot" -> "pivot over bucketBy table: NO Exchange before the agg",
      "q_dedup_minhash" -> "LSH band self-join; no all-pairs product",
      "q_dedup_simhash_neardup" -> "Manku block-bucket join; hamming verify only within buckets",
      "q_cosine_topk" -> "broadcast 5-row query set; two-phase top-k rank",
      "q_ann_lsh" -> "LSH candidates only; no full-corpus crossJoin",
      "q_ann_ivf" -> "IVF: broadcast centroid assignment (map-side argmax), probe-bucket-only verify",
      "q_traj_contains" -> "as-of slice bound ONCE (single Project holds the HOF); no second scan+join for validity",
      "q_traj_pivot_salted" -> "skew-safe pivot: partial per-(key,salt) arrays then concat+sort — two ObjectHashAggregate phases",
      "q_dedup_embed" -> "embedding near-dup: LSH band self-join candidates, cosine verify within buckets — no all-pairs product",
      "q_session_window" -> "gap sessionization: one Exchange on user_id, sort-based session merge",
      "q_decontaminate" -> "decontamination: inverted-index shingle join, broadcast hot-set anti-join + broadcast eval sizes",
      "q_quality_topk" -> "grouped top-k: window rank inside each group, filter <= k — no global sort",
      "q_vocab_topdf" -> "vocabulary df: partial+final count then TakeOrderedAndProject — no global sort",
      "q_doc_winnow" -> "winnowing via the row-local native kernel: pure projection, no explode/window/shuffle",
      "q_doc_winnow_roll" -> "rolling-hash winnow production family: same pure-projection shape, no MD5 per position",
      "q_dedup_simhash_neardup64" -> "64-bit near-dup: every consumer branch reads the STAGED fingerprint parquet (no executor-resident state)",
      "q_tfidf_topterms" -> "tf-idf: tf joins df ON TERM (both sides shuffled — no vocabulary broadcast), corpus count broadcast, per-doc window top-k",
      "q_text_repetition" -> "repetition filters: two explode -> partial+final agg chains, left-joined per doc",
      "q_stratified_sample" -> "stratified sampling: one codegen'd hash predicate per row, map-side-combined census agg",
      "q_decontaminate_bloom" -> "bloom-prefiltered decontamination: might_contain probe BEFORE the shuffle join cuts corpus volume",
      "q_zorder_scan" -> "z-order bbox scan: zbucket PartitionFilters + zkey PushedFilters from ONE clustered-key range",
      "q_bucketed_join" -> "co-located bucketed fact ⋈ dim: SortMergeJoin with ZERO Exchange on either side",
      "q_phrase_search" -> "phrase lookup as a point predicate on the staged inverted index + semi-join back",
      "q_approx_distinct" -> "HLL sketch count-distinct: fixed-size mergeable state, map-side combined",
      "q_chunk_tokens" -> "token chunking: sequence-explode + slice pure projection — zero Exchange",
      "q_pack_greedy" -> "greedy packing: metadata-only (doc_id, n_tok) shuffle on shard, sequential pass inside shard-sorted partitions",
      "q_span_dedup" -> "span dedup: first-occurrence mask shuffles (md5, id, start) narrow tuples; reconstruction is a row-local slice+flatten after one join",
      "q_shuffle_order" -> "deterministic shuffle order: band-count stats + per-band rank — no single-partition global sort",
      "q_rollup" -> "rollup: ONE Expand + partial+final aggregate pair covers all three grouping levels",
      "q_pivot_wide" -> "columnar pivot with static value list: single conditional-sum aggregate, no distinct-values pre-job",
      "q_variant_extract" -> "VARIANT path access on the stored binary encoding — no JSON string parse in the read plan",
      "q_bm25_search" -> "BM25: only query-term postings survive the explode; df + corpus totals broadcast; integer-rational scoring",
      "q_dedup_incremental" -> "incremental ingest dedup: batch bands probe the STAGED corpus index scan — no corpus re-mine, no batch×batch",
      "q_resample_fill" -> "gap-fill resample: row-local grid explode, left join on (user, hour) keys only",
      "q_expectations" -> "expectations audit: all predicate rules in ONE map-side-combined aggregate; uniqueness adds one distinct agg",
      "q_dpp_join" -> "dynamic partition pruning: the scan's PartitionFilters carry a dynamicpruning subquery reusing the dim broadcast",
      "q_range_join_binned" -> "binned range join: equi-join on the 60 s bin + residual filter — hash join, no nested loop",
      "q_cluster_kmeans" -> "k-means final assignment: row-local nearest-centroid projection over the staged quantized scan — NO join, no Exchange before the sort",
      "q_semdedup" -> "SemDeDup: within-cluster pair join only (cluster key), cosine verify inside buckets — no all-pairs product",
      "q_pagerank" -> "PageRank iteration output: each rank frame is a staged parquet scan (flat plan, no 3-deep lineage)",
      "q_triangle_count" -> "triangles: three scans of ONE staged oriented-edge frame, two hash joins on (middle vertex) and (closing edge)",
      "q_dedup_blob64" -> "64-bit blob near-dup at the 16-bit-block operating point: staged fingerprint scan feeds band join",
      "q_salted_join" -> "salted skew join: ShuffledHashJoin on (key, salt) — hot key spread across 8 reducer keys, no broadcast",
      "q_snapshot_diff" -> "CDC diff: one full-outer SortMergeJoin on the key, changed-rows filter above it",
      "q_ewma_anomaly" -> "EWMA fold: one Exchange on user_id, sort_array + aggregate fold row-local",
      "q_scd2" -> "SCD2: two window passes + final agg — ONE Exchange on user_id reused by both sorts",
      "q_spatial_join" -> "2-D proximity join: 3×3 neighbor explode → hash equi-join on (cx,cy) + exact residual — no CartesianProduct",
      "q_dedup_substring" -> "ExactSubstr: md5-keyed window groupBy (16 B/position shuffled), islands merged per doc by window — no pair join at all",
      "q_suffix_array" -> "suffix array final join: staged rank scan ⋈ staged token scan on gpos — flat plan after the doubling loop",
      "q_bpe_encode" -> "BPE encode: broadcast vocab join over exploded tokens, partial+final count/sum",
      "q_mix_sample" -> "mixture sampling: per-lang window rank + two broadcast joins of 5-row quota frames",
      "q_retention_cohort" -> "cohort triangle: per-user min broadcast back, then partial+final distinct-count per cell",
      "q_dedup_ppjoin" -> "PPJoin: length + positional filters kill candidates over int-only rows BEFORE the array-shipping verify joins",
      "q_traj_hausdorff" -> "Hausdorff join: ONE h-cell join feeds both directed max-min reductions — no per-pair |A|x|B| product",
      "q_dbscan" -> "DBSCAN: staged cell-join neighbor pairs reused by degree/core-edge/border branches; CC labels via pointer-jumping rounds",
      "q_er_hamming" -> "Hamming ER: round-robin pigeonhole block join, width one-char compares verify — no array/UDF anywhere",
      "q_sample_weighted" -> "weighted systematic sample: 16-band weight sums as offsets + per-band window — no single-partition prefix sum",
      "q_assoc_rules" -> "association rules: basket-bounded pair explode, 1-row total broadcast, two count-frame joins",
      "q_seasonal_stl" -> "seasonal decomposition: trend = row-index 24-row bands + 11/12-row halo exchange (prefix offsets give the index) — no unpartitioned window",
      "q_filter_decide" -> "composite filter decision: bits 1/2/4 in ONE projection (hit columns bound once), repetition bit joined on doc_id",
      "q_er_sorted" -> "sorted-neighborhood ER: banded monotone-prefix ranks, 1-D rank-bucket join, codegen Hamming verify",
      "q_er_golden" -> "golden record: blocked pair join feeds pointer-jumping CC; one left join labels the scope",
      "q_skyline" -> "skyline: banded prefix-max literals + in-band RANGE window + per-cost group max — no dominance self-join",
      "q_cdc_chunks" -> "CDC chunking: boundary/zip HOFs row-local, the only explode is the final chunk table",
      "q_trend_ols" -> "OLS trend: five combinable integer sums in ONE partial+final agg — no window, no sort",
      "q_mad_outliers" -> "MAD outliers: two grouped rank passes reuse the user_id Exchange, census agg on top",
      "q_cusum" -> "CUSUM fold: one Exchange on user_id, sort_array + aggregate row-local recurrence",
      "q_funnel_steps" -> "k-step funnel: four shrinking user-keyed join+min rounds, census unions of 1-row aggs",
      "q_ann_ivfpq" -> "IVF-PQ: probed-bucket join over the staged code frame, ADC decode row-local vs codebook literals",
      "q_bfs_hops" -> "BFS: final labels = union of staged per-round frontier scans — flat plan after the loop",
      "q_forecast_snaive" -> "seasonal-naive backtest: two combinable aggs + a 24-row broadcast model join",
      "q_peak_concurrency" -> "sweep line: day-banded running sums + broadcast carry join + day-start sentinel — no global sort of endpoints",
      "q_rrf_fuse" -> "RRF: two TakeOrderedAndProject top-k runs, broadcast k² rank joins, one fused groupBy",
      "q_cluster_kmeans_bcast" -> "k-means assignment via broadcast centroid frame: n·k fan-out combined map-side to ~n rows — the IVF-scale twin of the literal plan",
      "q_keyword_tag" -> "phrase tagging: per-length n-gram explodes + ONE broadcast dictionary join — text never shuffles",
      "q_embed_leakage" -> "eval leakage: staged train LSH index probed across frames, cosine verify in-bucket — no eval×train product",
      "q_containment" -> "containment: rarest-prefix × inverted index equi-join with the exact size filter, intersect verify on survivors only",
      "q_dsir_weight" -> "DSIR contrast: ONE staged bigram stream feeds both model groupBys + bigram-keyed scoring joins — no model-broadcast assumption",
      "q_fuzzy_join" -> "ed-1 fuzzy join: deletion-variant equi-join (exact recall by the FastSS theorem), codegen levenshtein verify — no all-pairs product",
      "q_skip_scan" -> "file-skipping index: literal bucket IN-list from the index consult → compile-time PartitionFilters + broadcast probe semi-join",
      "q_kcore" -> "k-core: per-round degree agg + two left-semi joins on the shrinking staged edge frame — flat plan after the peel loop",
      "q_drift_hist" -> "drift monitor: two map-side-combined (group,bin) histograms + broadcast grid and totals — drift frame O(groups·bins)",
      "q_logodds_terms" -> "log-odds terms: one token explode → one two-count agg, 1-row totals broadcast, DECIMAL cross-ratio row-local",
      "q_point_in_polygon" -> "concave ray-cast census: the parity predicate rides the scan (pure projection + map-side agg, zero shuffle)",
      "q_label_prop" -> "LPA round: staged edge scan ⋈ label frame, map-side (node,label) vote counts + max-of-struct — linear in |E| per round",
      "q_active_users" -> "sliding distinct actives: ONE (user,day) dedup shuffle, per-user lead window, <= 7x bounded explode, day-level combinable count — no distinct-per-window",
      "q_interval_coverage" -> "interval union: one user-keyed Exchange feeds both window passes + the island groupBy — no overlap self-join",
      "q_nn_join" -> "bounded-radius NN join: 3x3 neighbor explode -> hash equi-join on cells, min-of-struct combined map-side",
      "q_ks_test" -> "two-sample KS: everything after the (group,value) count pass runs on the distinct-value frame; per-group windows only",
      "q_acf" -> "autocorrelation: one user Exchange reused by totals agg, broadcast join, lag window, and final agg",
      "q_robust_scale" -> "per-dim robust stats: fixed x64 posexplode, per-dim rank windows (64 spread groups), 64-row broadcast census join",
      "q_ppr" -> "personalized PageRank: rank-positive frontier ⋈ staged edges per iteration — work tracks the seed neighborhood, not |V|",
      "q_hits" -> "HITS round: two shuffle-on-key sums over the staged edge frame, no division anywhere",
      "q_traj_simplify" -> "radial simplification: one group-collect shuffle, sort_array + aggregate fold row-local (the EWMA shape)",
      "q_lm_backoff" -> "stupid backoff: train-side gram count groupBys, eval stream left joins ON gram keys, 1-row N broadcast",
      "q_cc_incremental" -> "incremental CC: batch contracts through two label joins; CC rounds on the contracted graph; broadcast relabel",
      "q_gini_mix" -> "gini diversity: two map-side-combined aggs, DECIMAL squared counts — nothing row-sized shuffles",
      "q_hard_negatives" -> "triplet mining: broadcast anchor set, both extrema as conditional max/min-of-struct in ONE map-side-combined agg",
      "q_dtw_match" -> "subsequence DTW: one group-collect shuffle, the whole DP inside aggregate-over-pattern x transform HOFs, TakeOrdered top-20",
      "q_hilbert_scan" -> "hilbert bbox scan: driver-decoded covering-quadrant IN-list -> compile-time PartitionFilters + exact gx/gy PushedFilters",
      "q_exact_quantiles" -> "2-pass exact selection: domain-bounded histogram agg, target-bin IN-list rescan + per-bin rank window — no global sort",
      "q_link_predict" -> "link prediction: wedge equi-join candidates, degree-derived union sizes (neighbor sets never ship), TakeOrdered",
      "q_label_vote" -> "label aggregation: two (item,label) count aggs + rank-1 windows, annotator reliability agg joined back on its own key",
      "q_event_pattern" -> "event-pattern regex: one group-collect of 1-byte initials, row-local regex scan per entity",
      "q_source_overlap" -> "source-overlap census: the verified near-dup pair pipeline + one (source,source) groupBy — document text never ships",
      "q_approx_setops" -> "HLL set-ops: ONE data-sized shuffle (per-user collect_set), per-type sketch agg + groups-squared sketch cross-join + row-local pair explode all domain-bounded",
      "q_trend_theilsen" -> "Theil-Sen: shuffle-join PINNED on g so the C(n,2) pair frame inherits hash(g) and never re-exchanges for the rank window (broadcast regime measured 263 MB vs 8 MB)",
      "q_xcorr" -> "cross-correlation: one map-side-combined (type, hour) count agg; dense-grid joins and lag alignment all run on the 720-row domain-bounded grid",
      "q_chi2_terms" -> "chi2 terms: row-local presence dedup (array_distinct before explode — no (doc,term) distinct shuffle), ONE term agg, TakeOrdered",
      "q_hotspot" -> "hotspot census: ONE map-side (cx,cy) count agg; x9 neighbor explode + score on the CELL frame; TakeOrdered top-15",
      "q_embed_drift" -> "centroid drift: fixed xdims posexplode -> ONE (label,half,dim) map-side agg; cosine on integer SUM vectors (1/n cancels)",
      "q_seq_pairs" -> "seq-pair support: one (user,type) min/max agg replaces any ordered scan; per-user <=|types|^2 pair join on the span frame",
      "q_rolling_median" -> "rolling median: one entity Exchange; trailing RANGE frame collect + row-local sort/select",
      "q_funnel_time" -> "funnel time: user-keyed aggs + join, then the 2-pass exact selection (no global sort, no single-partition window)",
      "q_fuzzy_join2" -> "ed2 fuzzy join: depth-2 deletion-neighborhood equi-join on the staged variant frame, thresholded levenshtein verify per distinct pair",
      "q_time_travel" -> "time travel: commit_v<=asOf PartitionFilters prune newer commit dirs at the scan; rank-1 window replay",
      "q_cluster_diameter" -> "cluster diameter: verified pair frame joins its component once on id; O(clusters) verdict agg",
      "q_blob_stats" -> "blob QC: hex materialized once, per-byte explode map-side-combines to <=256 rows/blob — content never shuffles",
      "q_ooo_events" -> "OOO census: ONE per-user arrival-ordered running-max window + 5-group verdict agg",
      "q_isotonic" -> "isotonic calibration: ONE data-sized bin agg; minimax interval frame + max-min aggs all domain-bounded (no PAVA stack, no driver loop)",
      "q_winsorize" -> "winsorize: 2-pass exact p1/p99 selection + one map-side census agg against the 1-row broadcast bounds",
      "q_spearman" -> "spearman: one (type,user) totals agg; both rank windows and the moment rollup reuse ONE hash(g) partitioning",
      "q_bootstrap_ci" -> "bootstrap: x32 weight explode is row-local; (g,b) agg map-side-combines to 160 domain rows before the exchange; rank selection on the groupsxB frame",
      "q_survival_km" -> "kaplan-meier: one (type,user) min/max agg is the only data-sized pass; risk window + ppm fold run on the domain-bounded (type,day) frame",
      "q_attribution" -> "attribution: per-user conversion-counter window + (user,cs) position windows share hash(user_id); credit rollup is |channels| rows",
      "q_cube" -> "cube: ONE Expand + ONE map-side-combined aggregate for all 4 margin combos — never 4 input scans",
      "q_mmr_rerank" -> "mmr: staged top-12 candidates + 5 greedy rounds on (queries x 12) frames, every join/window keyed on q_id",
      "q_rfm_segments" -> "rfm: quartile thresholds via 2-pass exact selection broadcast onto the user frame — no unpartitioned ntile window",
      "q_skew_audit" -> "skew audit: one map-side count agg + TakeOrderedAndProject — no rank window anywhere",
      "q_ngram_coverage" -> "ngram coverage: staged corpus distinct-gram index scan + eval-side gram join; only gram keys shuffle",
      "q_lang_mismatch" -> "lang audit: row-local stopword scorer (hits bound once) + ONE (lang,pred) map-side agg — 2-column verdict shuffles",
      "q_session_capped" -> "capped sessions: ONE group-collect shuffle + row-local dual-rule fold — the cap rule no fixed-gap merge expresses",
      "q_item_cf" -> "item CF: per-order C(k,2) wedge pairs (never items^2) + popularity joins + TakeOrdered top-20",
      "q_anova" -> "ANOVA: one (type, user) totals pass + k-row moment rollup — the q_abtest shape generalized to k arms",
      "q_cuped" -> "CUPED: same dense-grid totals pass; theta + both deltas from ONE per-group moment rollup",
      "q_changepoint" -> "changepoint: one group-collect Exchange + row-local prefix-sum fold — no per-split window scans",
      "q_clustering_coeff" -> "clustering coeff: degree-oriented O(m^1.5) triangle join + degree frame — per-node counts, no wedge^2",
      "q_link_ra" -> "RA link predict: weighted wedge join + anti-join + TakeOrdered — the q_link_predict plan with per-middle weights",
      "q_readability" -> "readability: pure row-local regexp projection — zero Exchange before the ordered dump",
      "q_chi2_contingency" -> "chi2: ONE map-side (type, dow) count + broadcast margins — nothing else data-sized",
      "q_ab_proportions" -> "proportions z2: one (type, user) outcome pass, the q_abtest key class",
      "q_modularity" -> "modularity: edge->label tag joins + intra count + degree rollup, m on a 1-row broadcast",
      "q_feature_hash" -> "feature hashing: token explode + two map-side-combinable aggs — no vocabulary broadcast",
      "q_rake_phrases" -> "RAKE: doc-keyed delimiter window + word-stat join + TakeOrdered — never a global window",
      "q_gini_wealth" -> "Gini: ONE map-side histogram; rank math runs closed-form on the domain-bounded bin frame",
      "q_dp_counts" -> "DP release: map-side count + row-local compile-time CASE ladder — no logs, no second pass",
      "q_runs_test" -> "runs test: one entity-keyed lag window + map-side aggs — never a per-type global window",
      "q_ttest_paired" -> "paired t2: one (type, user) difference pass + k-row rollup — the q_abtest shape on within-user deltas",
      "q_markov_steady" -> "markov steady: 8 rounds iterate a STAGED K^2 count frame — round cost is input-size-independent",
      "q_cramers_v" -> "Cramer's V: the chi2 grid rollup — margins cross-joined broadcast, one data-sized count pass",
      "q_trend_hw" -> "Holt-Winters: one (type, day) agg + group-collect + row-local triple-smoothing fold",
      "q_percentile_normalize" -> "percentile: histogram + triangular CDF join + broadcast back — NO single-partition WindowExec",
      "q_attribution_markov" -> "markov attribution: ONE journey group-collect; absorption = driver math on the 42-long matrix",
      "q_mcnemar" -> "mcnemar: ONE (type,user) max-agg pass — discordant pairs only, no dense grid",
      "q_bh_fdr" -> "BH-FDR: the q_abtest moment rollup + broadcast 5-row rank self-join — no unpartitioned window",
      "q_trend_mk" -> "mann-kendall: shuffle-pinned per-user pair join; n/S/ties are three same-key aggs on hash(g)",
      "q_logrank" -> "log-rank: one (type,user) min/max pass; hypergeometric terms on the domain-bounded (type,day) risk frame",
      "q_t_closeness" -> "t-closeness: domain-bounded cell frame; global cumulative = broadcast band self-join, per-group cumulative = partitioned window",
      "q_levene" -> "brown-forsythe: grouped 2-pass selection medians broadcast onto the dense grid + the q_abtest moment rollup",
      "q_group_sample" -> "exact-k group sample: rank bound pushed as WindowGroupLimit (per-partition k-heap, no full group sort)",
      "q_blob_pack" -> "blob shard packing: metadata-only (doc_id, n_bytes) shuffle; sequential fold inside group-sorted partitions",
      "q_write_split" -> "balanced write split: banded exact byte prefix sum — band totals driver stat + band-keyed cumsum window, no global sort",
      "q_sax_motifs" -> "SAX motifs: 2-pass selection breakpoints broadcast; symbols + trigram lag window reuse one hash(user) Exchange",
      "q_conductance" -> "conductance: the modularity frames (tag joins + intra count + degree rollup), different final arithmetic",
      "q_vocab_coverage" -> "Zipf head coverage: one token-explode agg, TakeOrdered top-1000, broadcast rank self-join — no unpartitioned window",
      "q_novelty_decay" -> "novelty decay: md5 first-occurrence agg + hash join + 10-row census — text never shuffles",
      "q_jl_project" -> "JL audit: 8 codegen 64-term integer sums per row (no explode, no matrix join), fixed 5-query broadcast pairs",
      "q_ann_recall_jl" -> "JL sketch recall: ONE broadcast scored pass computes both distances; two two-phase shard ranks, no per-query funnel",
      "q_colocation" -> "co-location: (user, cell, hour) presence dedup BEFORE the pair join — occupancy-bounded, never users squared",
      "q_turning" -> "turning census: one user-keyed two-lag window + map-side agg — integer cross products, no atan2",
      "q_dominant_period" -> "dominant period: acfPpm's single hash(user) Exchange + row-local greatest/CASE argmax",
      "q_ips_eval" -> "IPS policy eval: 1-row TakeOrdered policy broadcast + two conditional map-side aggs",
      "q_ann_incremental_delete" -> "IVF delete: tombstone anti-join on the compact postings view — vectors never shuffle to get deleted",
      "q_ann_compact" -> "IVF compaction: staged postings rewrite, search identical to the live view (no vector access)",
      "q_knn_classify" -> "ANN-candidate kNN: IVF bucket + LSH band candidates, exact re-rank — no |eval|x|train| stage",
      "q_hll_census" -> "HLL register census: md5-nibble projection + two map-side-combined max/count aggs — fixed 2^b-row state",
      "q_kmv_sketch" -> "KMV bottom-k: per-shard WindowGroupLimit rank + TakeOrdered merge — no global sort",
      "q_kmv_setops" -> "KMV set ops: pairwise sketch frames only (groups^2 x k rows), estimator exact by md5 order",
      "q_dict_encode" -> "order-preserving dictionary: staged range-partitioned census + broadcast offsets + partition-local rank",
      "q_profile_table" -> "ANALYZE census: one aggregate branch per column (one-column scan, native-type distinct agg), unioned",
      "q_stream_late" -> "late census read-back: emitted windows joined to an hour-bucketed batch census",
      // round-14 (VERDICT r13 Next #4): the scale-critical ANN/Delta
      // plans a 100x reviewer must be able to read
      "q_mutual_nn" -> "dense mutual-NN at the runtime-tuned point: IVF postings bucket join ∪ multi-probe band self-join, in-bucket verify, map-side argmax — no corpus×corpus stage",
      "q_mutual_nn_clustered" -> "sparse mutual-NN (IVF-only earned by the design sample): staged postings self-probe, repartition(src) verify — measured linear to 25x",
      "q_embed_leakage_clustered" -> "clustered leakage: test vectors probe the staged train IVF postings (one bucket each) — the structurally-quadratic LSH banding replaced in r13",
      "q_ann_tuning" -> "LSH design table: all-pairs truth on the BOUNDED sample only; per-config band self-joins + one broadcast totals join",
      "q_delta_log" -> "graftdelta DSv2 read: log-resolved BatchScan over live parquet files, PushedFilters intact — the log layer adds zero executor operators")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the scale-critical queries (sf0.01)\n\n")
    sb.append("Generated by `graft.Scratch`. What to look for: `PartitionFilters`/\n")
    sb.append("`PushedFilters` on scans, `BroadcastHashJoin` (small side broadcast),\n")
    sb.append("partial+final `HashAggregate` pairs (map-side combine), and the\n")
    sb.append("ABSENCE of `Exchange` under bucketed reads / `CartesianProduct` anywhere.\n")
    interesting.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name — $note\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(4500))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")

    // Full-registry plan audit — the permanent form of the round-7
    // bench-tail sweep: NO query may plan a CartesianProduct or an
    // unpartitioned Window (single-partition sort of the whole input).
    // Streaming-replay queries run their micro-batches during
    // construction; the audited plan is then their batch read-back,
    // which is the part a 100× user re-runs. Exits nonzero on any hit
    // so the round driver/a future session can't miss it.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        val bad = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => s"$name: unpartitioned WindowExec"
          case _: CartesianProductExec => s"$name: CartesianProductExec"
        }
        bad
      } catch { case e: Throwable => Seq(s"$name: plan build failed: ${e.getMessage}") }
    }
    if (violations.isEmpty) println(s"plan audit: ${SparkEntry.queries.size} queries clean")
    else { violations.foreach(v => println(s"PLAN VIOLATION $v")); sys.exit(1) }
    spark.stop()
  }
}
