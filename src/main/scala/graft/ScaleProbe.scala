package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence harness (tooling, like Scratch — not library
  * surface): builds a 5× replica of sf0.1 (id-offset copies, so
  * per-entity densities stay constant and the hour-bucket count stays
  * 720 with 5× the rows per bucket) and measures headline queries at
  * both scales. The signal is the SCALING EXPONENT of wall time and —
  * more importantly for a 1000-executor projection — of shuffle bytes:
  * a query whose shuffle grows ~5× on 5× data is cluster-linear; one
  * that grows ~25× has a hidden pair blowup.
  *
  * Document text is replicated verbatim across copies, which makes every
  * doc a 5-way exact/near duplicate — a worst-case dup-dense corpus.
  * Pair-emitting dedup queries therefore have output (and candidate)
  * volume ~25× BY CONSTRUCTION; the probe includes one (q_dedup_minhash)
  * deliberately, labeled `pair_blowup_expected`, to show the skew valve
  * holds; the rest of the probe set has linear expectations.
  */
object ScaleProbe {

  private val Probes: Seq[(String, Boolean)] = Seq(
    "q_chunk_tokens" -> false,
    "q_pack_greedy" -> false,
    "q_shuffle_order" -> false,
    "q_span_dedup" -> false,
    "q_bm25_search" -> false,
    "q_rollup" -> false,
    "q_window_hourly" -> false,
    "q_session_window" -> false,
    "q_traj_velocity" -> false,
    "q_text_stats" -> false,
    "q_doc_winnow_roll" -> false,
    "q_dedup_exact" -> false,
    "q_dedup_minhash" -> true, // pair_blowup_expected on the replicated corpus
    // round-7 additions. q_dedup_substring runs on the VERBATIM replica
    // deliberately: every window key then has 5 occurrences (groups of
    // ~5·count, never n²), the worst-case dup-dense corpus with a linear
    // expectation. q_spatial_join's pair count grows ~25× BY PHYSICS
    // (5× points over the SAME area → 25× close pairs — true of any
    // densified mobility corpus), so it carries the blowup flag; its
    // candidate volume per cell is what the bin size bounds.
    "q_dedup_substring" -> false,
    "q_suffix_array" -> false,
    "q_od_matrix" -> false,
    "q_staypoint" -> false,
    "q_markov" -> false,
    "q_spatial_join" -> true, // density pair growth, not a plan defect
    // round-7 second wave (unscoped registry queries only — the
    // scoped ones pin their input size by construction).
    // q_trend_ols carries the flag for a LAYOUT artifact, not a plan
    // defect: its shuffle is pure partial-agg state (rows = input
    // partitions × groups, the normal combine contract), and the sf0.1
    // base lands in ~1 parquet split while the 5× replica has 32 — the
    // ratio (measured 99× on 0.2 → 19.8 MB absolute) compares layouts,
    // not growth. The matched-layout expectation is partitions × users
    // — linear on both axes.
    "q_trend_ols" -> true,
    "q_mad_outliers" -> false,
    "q_cusum" -> false,
    "q_seasonal_stl" -> false, // agg series is span-bounded: only the groupBy grows
    "q_sample_weighted" -> false,
    "q_filter_decide" -> false,
    // round-7 closing wave (VERDICT r6 Next #8 — ledger completeness).
    // Span-bounded series queries (snaive forecast backtest, sweep-line
    // peaks): like q_seasonal_stl, only the first groupBy grows.
    "q_forecast_snaive" -> false,
    "q_peak_concurrency" -> false,
    "q_rrf_fuse" -> false, // run construction = two TakeOrdered top-50 scans
    "q_keyword_tag" -> false, // Σ_L n_tokens gram rows + broadcast dict: linear
    // round-8: DSIR contrast = staged bigram stream (linear rows) feeding
    // two model groupBys + bigram-keyed scoring joins — all ~n
    "q_dsir_weight" -> false,
    // round-8: fence census = row-local predicate + map-side agg (near-
    // zero shuffle); crossings = ONE per-user ordered window, the
    // q_traj_velocity shape
    "q_geofence" -> false,
    "q_fence_crossings" -> false,
    // round-8 third wave: WAU = one (user, day) dedup + per-user lead
    // window + <= 7x bounded explode; TRUE distinct volume is exactly
    // linear (40,083 → 200,415 user-day records, per-stage attribution
    // in BUILDER_NOTES) but the 9.8x byte ratio is the q_trend_ols
    // LAYOUT artifact: partial-distinct state = input_partitions × local
    // keys, and the sf0.1 base lands in ~1 parquet split (map-side dedup
    // pre-collapses 100k → 40k) while the replica has 32 (483k partial
    // rows). Matched layouts ⇒ linear; absolute is 10.8 MB.
    "q_active_users" -> true,
    // round-8 third wave: interval union = ONE per-user window Exchange
    // + two same-key groupBys; replica adds users, per-user interval
    // counts constant → linear
    "q_interval_coverage" -> false,
    // round-8 third wave: NN join = 9x bounded probe explode against a
    // FIXED 500-site table, map-side-combined per-probe min → linear in
    // probes (the events axis the replica grows)
    "q_nn_join" -> false,
    // round-8 third wave: KS = one map-side (group, value) count pass;
    // everything downstream runs on the distinct-value frame (value
    // space is data-bounded, grows sublinearly on the replica)
    "q_ks_test" -> false,
    // round-8 third wave: ACF = one user-keyed Exchange reused by
    // totals agg, join, lag window, and final agg — linear, the
    // q_trend_ols shape without the layout artifact (no tiny-base split)
    "q_acf" -> false,
    // round-8 third wave: dim-robust stats = fixed x64 explode + per-dim
    // windows (64 groups) + 64-row broadcast — linear in vectors
    "q_robust_scale" -> false,
    // round-8 third wave: radial simplification = one group-collect
    // shuffle + row-local fold (the q_ewma shape); replica adds users at
    // constant per-user track length → linear
    "q_traj_simplify" -> false,
    // round-8 fourth wave: subsequence DTW = the same one group-collect
    // shuffle + row-local DP (sequence capped at 48 rows, pattern fixed)
    // + TakeOrdered top-20 — linear in entities
    "q_dtw_match" -> false,
    // round-8 fourth wave: event-pattern regex = one group-collect of
    // 1-byte initials + row-local regex scan — the q_dtw_match shape
    "q_event_pattern" -> false,
    // round-8 fourth wave: 2-pass exact selection = one map-side
    // histogram + a rescan of the 3 target bins only. Measured 11.4x on
    // 0.5 -> 5.7 MB absolute: the q_trend_ols/q_active_users LAYOUT
    // artifact — partial-agg state = input_partitions × local bins
    // (~30k domain bins), and the sf0.1 base lands in ~1 parquet split
    // while the replica has 5+; matched layouts ⇒ linear (bin count is
    // DOMAIN-bounded, independent of rows).
    "q_exact_quantiles" -> true,
    // round-8 fourth wave: hilbert encode/decode = row-local codegen
    // Expression + map-side-free projection (the q_geofence zero-shuffle
    // class; the ordered output adds one range-partition exchange).
    // q_hilbert_scan is store-class (builds a layout) — bench-covered
    // like q_zorder_scan, not replica-probed.
    "q_hilbert_key" -> false,
    // round-8 third wave: stupid-backoff = train-side count groupBys +
    // eval-stream left joins on gram keys, all ~n (the q_lm_bigram /
    // q_dsir_weight shape with one more level)
    "q_lm_backoff" -> false,
    // round-8 third wave: gini = two combinable aggs, output span-bounded
    "q_gini_mix" -> false,
    // round-8 third wave: collocations = two count groupBys + margin
    // joins + TakeOrdered top-50 — bigram space grows sublinearly
    "q_collocations" -> false,
    // round-8 third wave: nearest-time = 3-bin explode + (user, bin)
    // hash join + map-side min — the q_range_join_binned shape
    "q_nearest_time" -> false,
    // round-8 third wave: EXACT-kNN classification scores |eval|·|train|
    // pairs — 25x on 5x BY CONSTRUCTION (both factors grow), the
    // documented physics of the brute-force baseline (q_spatial_join
    // class); the ANN/IVF twins are the scale path and carry their own
    // linear probes (q_ann_*). Measured 139x includes the small-base
    // plan-regime skew on a 1.0 MB absolute base.
    "q_knn_classify" -> true,
    // round-8 fourth wave: k-center greedy = k linear passes (argmin agg
    // + row-local fold vs a 1-row broadcast center); state is one column
    "q_kcenter" -> false,
    // round-8 fourth wave: triplet mining scores |anchors|·|corpus| pairs
    // and the replica grows BOTH axes (anchors are an id-residue class of
    // the corpus) — 25x on 5x by construction, the q_knn_classify class;
    // at corpus scale the scorer swaps to ANN candidates per the scaladoc
    "q_hard_negatives" -> true,
    // round-8 second wave: concave ray-cast census = same row-local
    // predicate + map-side agg shape as q_geofence; drift = two
    // map-side-combined (group, bin) histograms + broadcast totals —
    // the drift frame is O(groups·bins) at any input size
    "q_point_in_polygon" -> false,
    "q_drift_hist" -> false,
    // round-8: one token explode → one two-count agg + 1-row broadcast;
    // shuffle is O(tokens) partial-agg state, output O(vocab)
    "q_logodds_terms" -> false,
    // round-8: per-user pair self-join — the replica keeps per-entity
    // densities constant (users ×5, C(n_u,2) per user unchanged), so
    // pair volume and the one g-shuffle scale linearly
    "q_trend_theilsen" -> false,
    // round-8 fifth wave: HLL set-ops = ONE data-sized shuffle (per-user
    // collect_set of types), then domain-bounded derivations (per-type
    // sketch agg, groups² sketch cross-join, row-local type-pair
    // explode). Flagged for the q_trend_ols LAYOUT artifact, measured
    // via SetOpsProbe: shuffle is partial-agg state (input_partitions ×
    // users, the normal combine contract) and sf0.1 events lands in 1
    // parquet split vs the replica's 32 — raw ratio reads 154×, but the
    // matched-layout run (base rewritten to 32 interleaved splits) reads
    // 3.66 → 15.40 MB = 4.2× on 5×. Linear.
    "q_approx_setops" -> true,
    // round-8 fifth wave: cross-correlation = ONE map-side-combined
    // (key, bucket) count agg; deviations, lag joins, and the final
    // ppm all run on the dense bucket GRID (720 rows, independent of
    // input size). Measured 10.5× on 0.2 → 2.1 MB absolute = the
    // q_exact_quantiles LAYOUT artifact: partial-agg state =
    // input_partitions × 1440 DOMAIN-bounded (type, hour) groups and
    // the sf0.1 base lands in ~1 parquet split vs the replica's 32;
    // matched layouts ⇒ flat (group count is independent of rows).
    "q_xcorr" -> true,
    // round-8 sixth wave: hotspot census = ONE map-side-combined
    // (cx, cy) count agg (400 domain-bounded groups); the x9 neighbor
    // explode + score run on the CELL frame. Measured 14x on 0.1 ->
    // 1.4 MB ABSOLUTE = the q_xcorr/q_exact_quantiles layout artifact
    // (partial-agg state = input_partitions x 400 domain groups; the
    // sf0.1 base lands in ~1 parquet split vs the replica's 32); time
    // flat 1.1x, group count independent of rows.
    "q_hotspot" -> true,
    // round-8 sixth wave: chi2 term selection = row-local presence
    // dedup + ONE (term) agg + TakeOrdered — vocab is constant across
    // verbatim copies, df counts 5x (the q_keyword_tag shape)
    "q_chi2_terms" -> false,
    // round-8 sixth wave: seq-pair support = one (user, type) min/max
    // agg (the data-sized pass) + a per-user <=|types|^2 pair join on
    // the span frame. Raw ratio reads 58x on 0.5 -> 29 MB: the
    // q_trend_ols/q_approx_setops LAYOUT artifact — the sf0.1 base is
    // 1 parquet split so the partial agg pre-collapses to exactly
    // users x types = 7,500 records; matched-layout run (SeqProbe,
    // base rewritten to 32 interleaved splits) reads 6.46 -> 28.94 MB
    // = 4.5x on 5x, span records exactly 5.0x (81,868 -> 409,045),
    // full-query records 5.0x (205,866 -> 1,028,399) — LINEAR.
    "q_seq_pairs" -> true,
    // round-8 sixth wave: centroid drift = fixed xdims posexplode +
    // ONE (label, half, dim) map-side agg (labels x 2 x 64 = 1,280
    // DOMAIN-bounded groups). Measured 17x on 0.1 -> 1.7 MB ABSOLUTE =
    // the q_xcorr/q_hotspot layout artifact (partial-agg state =
    // input_partitions x 1,280 groups; base ~1 parquet split vs the
    // replica's 32); group count independent of rows ⇒ flat on
    // matched layouts.
    "q_embed_drift" -> true,
    // round-8 sixth wave: A/B t² = one (type, user) totals agg + a
    // 5-group moment agg. Measured 49.7x on 0.3 -> 14.9 MB: the SAME
    // (type, user)-keyed data pass as q_seq_pairs, whose SeqProbe
    // matched-layout run proved records exactly 5.0x and bytes 4.5x on
    // 5x once the base is rewritten to 32 interleaved splits — the
    // base-single-split partial-agg pre-collapse artifact, LINEAR.
    "q_abtest" -> true,
    // round-8 sixth wave: rolling median = ONE entity-keyed window
    // Exchange + row-local sort/select per frame (the q_rolling_window
    // shape with collect_list state bounded by events-per-hour-per-user)
    "q_rolling_median" -> false,
    // round-8 sixth wave: vocab growth = row-local bigram explode + two
    // map-side aggs (per-bigram min-batch + per-batch counts); bigram
    // space is constant across verbatim copies (the q_chi2_terms class)
    "q_vocab_growth" -> false,
    // round-8 sixth wave: funnel time = two filtered (user) aggs + one
    // user-keyed join + the q_exact_quantiles 2-pass selection (720
    // hour bins). Measured 44x on 0.2 -> 8.8 MB: user-keyed partial-agg
    // state, the SAME base-single-split pre-collapse artifact the
    // SeqProbe matched-layout run root-caused for q_seq_pairs/q_abtest
    // (records exactly 5.0x on matched 32-split layouts) — LINEAR.
    "q_funnel_time" -> true,
    // round-8 seventh wave: blob byte QC = per-byte explode (linear
    // rows, content never shuffles) + (blob, byte) map-side agg
    // (<=256 rows per blob) — linear in corpus bytes
    "q_blob_stats" -> false,
    // round-8 seventh wave: Holt = the q_ewma_anomaly shape exactly
    // (one group-collect shuffle + row-local fold) with a 2-state
    // recurrence — linear in users
    "q_trend_holt" -> false,
    // round-8 seventh wave: sentence chunking = pure row-local
    // split + fold projection (the q_chunk_tokens zero-shuffle class;
    // the ordered output adds one range exchange)
    "q_chunk_sentences" -> false,
    // round-8 seventh wave: label outliers = one (label, dim) agg
    // (640 domain-bounded groups) broadcast onto the xdims posexplode;
    // per-vector dots map-side-combine to one row per vector +
    // TakeOrdered. Measured 9.5x on 0.2 -> 1.9 MB ABSOLUTE = the
    // q_embed_drift layout artifact (partial-agg state = partitions x
    // domain groups; base ~1 split vs replica 32) — flat on matched
    // layouts.
    "q_label_outliers" -> true,
    // round-8 eighth wave: freshness = ONE conditional map-side agg
    // (5 domain groups) + 1-row watermark broadcast — the q_gini_mix
    // zero-growth class
    "q_freshness" -> false,
    // round-8 eighth wave: user growth = (user, day) dedup + per-user
    // min agg + 30-row triangular join. Measured 23x on 0.5 -> 11.5 MB:
    // partial-dedup state = partitions x (user, day) keys — the
    // q_active_users/SeqProbe base-single-split pre-collapse artifact
    // (matched-layout records proved exactly 5.0x for this key class);
    // LINEAR.
    "q_user_growth" -> true,
    // round-8 eighth wave: both delivery audits = ONE per-user ordered
    // window (the q_traj_velocity shape) + a 5-group verdict agg
    "q_event_dups" -> false,
    "q_ooo_events" -> false,
    // round-8 ninth wave: trending terms = one (period, term) count agg
    // + two per-period vocab windows + term join + TakeOrdered — vocab
    // constant across verbatim copies (the q_chi2_terms class)
    "q_trending_terms" -> false,
    // round-8 ninth wave: winsorize = the q_exact_quantiles 2-pass
    // selection + one map-side census agg — same domain-bounded
    // histogram state (flag inherited if the raw ratio inflates)
    "q_winsorize" -> false,
    // round-8 ninth wave: isotonic = ONE data-sized (bin) agg; the
    // minimax interval frame and max-min aggs are O(bins^3) rows over
    // ~100 DOMAIN-bounded bins — input-size-independent
    "q_isotonic" -> false,
    // round-8 ninth wave: Mann-Whitney = the q_abtest (type, user)
    // totals pass + one per-type rank window + tie census. Measured
    // 29x on 0.6 -> 17.4 MB: the SAME (type, user)-keyed data pass the
    // SeqProbe matched-layout run proved linear (records exactly 5.0x
    // on 32-split-matched layouts) — base-single-split pre-collapse
    // artifact, LINEAR.
    "q_mann_whitney" -> true,
    // round-8 ninth wave: gap percentiles = one (user, type) lag window
    // + the GROUPED 2-pass selection (per-(type, hour-bin) histogram,
    // target-bin-only rescan on fine-grained keys — never a 5-task
    // per-type rank funnel) — linear in events
    "q_gap_percentiles" -> false,
    // round-9: Spearman = the q_abtest/q_mann_whitney (type, user)
    // totals pass + TWO per-type rank windows (x and y) + a 5-group
    // moment rollup — same key class as q_mann_whitney, which the
    // SeqProbe matched-layout run proved linear (records exactly 5.0x);
    // flagged for the same base-single-split pre-collapse artifact
    "q_spearman" -> true,
    // round-9: Poisson bootstrap = the (type, user) totals pass + a x32
    // row-local weight explode that map-side-combines to (type, b) =
    // 160 DOMAIN-bounded groups before any exchange — flagged for the
    // q_xcorr/q_hotspot layout artifact (partial-agg state =
    // input_partitions x domain groups)
    "q_bootstrap_ci" -> true,
    // round-9: Kaplan-Meier = one (type, user) min/max agg (the
    // q_abtest key class, same artifact flag) + suffix-risk window,
    // fold, and explode on the (type x 31 days) DOMAIN-bounded frame
    "q_survival_km" -> true,
    // round-9: attribution = one per-user ordered window (the
    // q_traj_velocity shape) + (user, conversion) position windows that
    // reuse the same hash partitioning + a |channels|-row verdict
    "q_attribution" -> false,
    // round-9: CUBE = one Expand (x4 margin combos) + ONE map-side-
    // combined agg to 48 domain-bounded groups — the q_rollup class
    "q_cube" -> false,
    // round-9: SRM guardrail = one distinct-(type, user) dedup + a
    // 5-group conditional agg — partial-dedup state is the
    // q_active_users key class (flagged artifact on single-split bases)
    "q_ab_srm" -> true,
    // round-9: MMR = staged top-12 retrieval (the q_cosine_topk
    // broadcast-queries crossJoin, linear in corpus) + greedy rounds on
    // (queries x 12) candidate frames whose size is INPUT-INDEPENDENT
    "q_mmr_rerank" -> false,
    // round-9: RFM = one (user) totals agg + three 2-pass selections on
    // DOMAIN-bounded histograms + broadcast thresholds + a 64-group
    // verdict — the (user) key class (q_active_users artifact flag)
    "q_rfm_segments" -> true,
    // round-9: skew audit = ONE (user) count agg + TakeOrdered top-10 —
    // same (user) partial-agg key class as q_rfm_segments
    "q_skew_audit" -> true,
    // round-9: n-gram coverage = staged corpus-wide distinct-gram index
    // (the decontamination index shape) + eval-side gram join — corpus
    // grams grow sublinearly on the verbatim replica (cross-copy grams
    // identical), eval side is fixed
    "q_ngram_coverage" -> false,
    // round-9: lang audit = the row-local q_text_stats scorer + ONE
    // (lang, lang_pred) map-side agg — 30 domain-bounded groups
    "q_lang_mismatch" -> false,
    // round-9: capped sessionization = one group-collect shuffle +
    // row-local dual-rule fold (the q_ewma_anomaly shape); users scale
    // as width, per-user track length constant on the replica
    "q_session_capped" -> false,
    // round-9 wave 5: ANOVA and CUPED are the q_abtest (type, user)
    // totals key class (one data-sized pass + a k-row rollup) —
    // flagged for the same base-single-split pre-collapse artifact
    // the SeqProbe matched-layout runs attribute
    "q_anova" -> true,
    "q_cuped" -> true,
    // round-9 wave 5: DiD = ONE map-side conditional agg to 5 domain
    // groups — near-zero shuffle by construction
    "q_diff_in_diff" -> false,
    // round-9 wave 5: changepoint = one group-collect shuffle +
    // row-local prefix-sum fold (the q_ewma_anomaly/q_session_capped
    // shape); users scale as width, per-user n constant
    "q_changepoint" -> false,
    // round-9 wave 5: readability = pure row-local projection over
    // documents (the q_doc_winnow zero-shuffle class + ordered dump)
    "q_readability" -> false,
    // round-9 wave 6: χ² contingency = ONE map-side (type, dow) count
    // to 35 domain groups — the q_cube near-zero-shuffle class
    "q_chi2_contingency" -> false,
    // round-9 wave 6: two-proportion z² = the q_abtest (type, user)
    // outcome pass (same base-single-split artifact flag)
    "q_ab_proportions" -> true,
    // round-9 wave 6: feature hashing = token explode + (bucket, term)
    // partial agg — vocab is corpus-bounded, grows sublinearly on the
    // verbatim replica (cross-copy terms identical)
    "q_feature_hash" -> false,
    // round-9 wave 6: RAKE = doc-keyed posexplode window (one Exchange
    // on doc_id) + word-stat agg + word join — linear in docs
    "q_rake_phrases" -> false,
    // round-9 wave 7: Gini = ONE map-side (type, unit-bin) histogram —
    // bin domain is value-bounded, the q_exact_quantiles class (same
    // artifact flag: partial state = partitions × bins vs 1-split base)
    "q_gini_wealth" -> true,
    // round-9 wave 7: DP release = ONE map-side (type, day) count to
    // 155 domain groups + row-local CASE ladder — the q_cube class
    "q_dp_counts" -> false,
    // round-9 wave 7: runs test = one (type, user)-keyed lag window +
    // two map-side aggs — the q_gap_percentiles window key class
    "q_runs_test" -> false,
    // round-9 wave 8: paired t² = the q_abtest (type, user) totals key
    // class (same artifact flag); Cramér's V = the q_cube domain-group
    // class; Markov steady = one user-keyed lag window + a staged K²
    // frame the 8 rounds iterate on (rounds are input-size-independent)
    "q_ttest_paired" -> true,
    "q_cramers_v" -> false,
    "q_markov_steady" -> false,
    // round-9 wave 9: Holt-Winters = one (type, day) agg to the
    // span-bounded daily frame + row-local fold — the q_seasonal_stl
    // series class (only the first groupBy grows)
    "q_trend_hw" -> false,
    // round-9 wave 10: Lorenz = the q_gini_wealth histogram class
    // (same artifact flag); VMR = the q_abtest (type, user) class;
    // percentile-normalize = one histogram + broadcast CDF join back
    // (histogram partial-state artifact class)
    "q_lorenz_deciles" -> true,
    "q_vmr" -> true,
    "q_percentile_normalize" -> true,
    // round-9 wave 11: classifier metrics = the q_knn_classify
    // |eval|·|train| brute scorer (both axes grow — 25× by
    // construction, same flag; measured 141× ≈ knn's 139×) + a
    // class-domain rollup; filtered ANN = fixed 5-query broadcast ×
    // corpus — shuffle is two-phase top-k partial state
    // (partitions × q × shards × k), the single-split-base layout
    // artifact at 2.2 MB absolute
    "q_classifier_metrics" -> true,
    "q_ann_filtered" -> true,
    // round-9 wave 12: Markov attribution = ONE group-collect journey
    // shuffle (the q_ewma shape) + 5 scenarios × 12 rounds on the
    // STAGED ≤7×7 matrix — rounds are input-size-independent
    "q_attribution_markov" -> false,
    // round-9 wave 13: Nelson-Aalen = the q_survival_km (type, user)
    // min/max key class (same artifact flag); top paths = the
    // q_attribution_markov journey group-collect
    "q_survival_na" -> true,
    "q_top_paths" -> false,
    // round-9 wave 14: sequential looks = the q_abtest (type, user)
    // class with 5 conditional-sum columns (same artifact flag);
    // audience overlap = ONE (user) bit_or agg (the q_active_users
    // partial-dedup class, same flag); ECE = the q_cube domain-bin
    // class
    "q_ab_sequential" -> true,
    "q_audience_overlap" -> true,
    "q_calibration_ece" -> false,
    // round-9 wave 15: growth accounting = one (user, week) dedup +
    // per-user lag/lead window (the q_active_users class, same flag);
    // MDE power = the q_abtest (type, user) moment class
    "q_growth_accounting" -> true,
    "q_ab_power" -> true,
    // round-9 wave 16: NDCG = the q_ann_recall twin (fixed 5-query
    // broadcast; exact side is the q_knn brute scorer on the query
    // slice, linear in corpus; ann side band-bounded)
    "q_ann_ndcg" -> false,
    // round-9 wave 17: MRR = the same q_ann_recall machinery (exact
    // top-1 + band-bounded ann), the third retrieval-eval lens
    "q_ann_mrr" -> false,
    // round-9 wave 18: drawdown = ONE user-keyed running-max window +
    // map-side agg (the q_traj_velocity shape); streaks = (user, day)
    // dedup + user-keyed lag window (the q_active_users class flag)
    "q_drawdown" -> false,
    "q_streaks" -> true,
    // round-9 wave 19: McNemar = ONE (type, user) max-agg pass (the
    // q_abtest key class, same artifact flag); BH-FDR = the q_abtest
    // (type, user) moment rollup + 5-row broadcast rank/threshold
    "q_mcnemar" -> true,
    "q_bh_fdr" -> true,
    // round-9 wave 20: Mann-Kendall = the q_trend_theilsen per-user
    // pair-join class (operator-level shuffle_hash pin; per-user pair
    // volume bounded by the <=744-hour x domain, users grow linearly)
    "q_trend_mk" -> false,
    // round-9 wave 21: log-rank = the q_survival_km (type, user)
    // min/max key class (same artifact flag); census + suffix-sum
    // window + final agg all ride hash(g)
    "q_logrank" -> true,
    // round-9 wave 23: Brown-Forsythe = the q_abtest (type, user)
    // moment class plus the grouped-selection median pass (same
    // artifact flag)
    "q_levene" -> true,
    // round-9 wave 24: exact-k group sample = one (type)-keyed window
    // with the WindowGroupLimit k-heap pushdown; output fixed at
    // 5 x 50 rows regardless of input size
    "q_group_sample" -> false,
    // round-9 wave 25: blob shard packing = the q_pack_greedy
    // metadata-fold class on the blob byte axis (only (doc_id,
    // n_bytes) shuffles; content never moves)
    "q_blob_pack" -> false,
    // round-9 wave 26: balanced write split = two metadata shuffles
    // (band totals + band-keyed cumsum window) on (key, nb) pairs —
    // the q_shuffle_order banded-prefix-sum class
    "q_write_split" -> false,
    // round-9 wave 27: SAX motifs = one (user, hour) agg + one
    // user-keyed lag window + a <=27-row census (the q_ewma_anomaly
    // ordered-recurrence key class; breakpoint selection is the
    // domain-bounded 2-pass histogram)
    "q_sax_motifs" -> false,
    // round-9 wave 29: Zipf head coverage = one token-explode agg +
    // two TakeOrdered top-1000 runs + broadcast 1000-row rank join
    // (the q_vocab_topdf class)
    "q_vocab_coverage" -> false,
    // round-9 wave 30: novelty decay = one md5 first-occurrence agg +
    // hash join + 10-row census (the q_dedup_exact key class — hashes
    // shuffle, text never does); JL audit = row-local codegen
    // projection + fixed 5-query broadcast pairs (the q_ann_recall
    // class)
    "q_novelty_decay" -> false,
    "q_jl_project" -> false,
    // round-9 wave 31: co-location pairs grow ~25x BY PHYSICS on a
    // densified corpus (5x users in the same cells and hours -> 25x
    // co-present pairs — the q_spatial_join density class, occupancy-
    // bounded per (cell, bin) key); turning census = ONE user-keyed
    // two-lag window (the q_traj_velocity shape)
    "q_colocation" -> true,
    "q_turning" -> false,
    // round-9 wave 32: dominant period = acfPpm's single hash(user)
    // Exchange + row-local argmax, but on the (user, hour) AGGREGATED
    // series — the upstream hourly groupBy carries the established
    // (user, hour)-keyed partial-agg base-single-split layout
    // artifact (q_active_users class; measured 12.1x on 4.1 -> 49.7
    // MB absolute, matched layouts => linear)
    "q_dominant_period" -> true,
    // round-9 wave 33: IPS policy eval = two conditional map-side
    // aggregates + a 1-row TakeOrdered policy broadcast (the
    // q_diff_in_diff near-zero-shuffle class)
    "q_ips_eval" -> false,
    // round-9 wave 34: JL sketch recall = one scored pass (fixed
    // 5-query broadcast) + two topKExact-style two-phase shard ranks.
    // Measured 27x on 0.1 -> 2.7 MB ABSOLUTE: the base's scored pass
    // is broadcast-only (near-zero shuffle) so the ratio divides by
    // ~0.1 MB of rank partials — the q_embed_drift small-absolute
    // layout class, flagged with that cause
    "q_ann_recall_jl" -> true,
    // round-9 wave 35: Kruskal-Wallis and Welch are the q_abtest
    // (type, user) totals key class (one data-sized pass; KW adds a
    // value-census banded prefix, Welch a 5-row rollup) — flagged for
    // the same base-single-split pre-collapse artifact; Simpson
    // diversity is the (user, type) count key class (q_active_users)
    "q_kruskal" -> true,
    "q_welch" -> true,
    "q_simpson_div" -> true,
    // round-9 wave 36: PACF = acfPpm's single hash(user) Exchange on the
    // (user, hour) aggregated series + row-local determinants — the
    // q_dominant_period key class (same layout artifact flag); Kendall
    // daily = ONE (type, day) agg + a <=31-row-per-type pair frame;
    // matched pairs = (type, user) totals (q_abtest key class) + banded
    // prev/next windows partitioned by (type, band)
    "q_pacf" -> true,
    "q_kendall_daily" -> false,
    "q_matched_pairs" -> true,
    // round-9 wave 37: Ljung-Box = acfPpm's single hash(user) Exchange
    // on the RAW event series + row-local DECIMAL clearing — the q_acf
    // shape exactly (same AQE fact-broadcast pin). q_bloom_scan is
    // store-class (builds a layout) — bench-covered like q_skip_scan /
    // q_hilbert_scan, not replica-probed.
    "q_ljung_box" -> false,
    // round-9 wave 38: AUC = one (day, value) map-side census agg; the
    // prefix window runs on the census only (domain-bounded) — linear
    "q_auc" -> false,
    // round-9 wave 38: LOO target encoding = one category rollup + 1-row
    // global total broadcast back onto the fact rows; output is per-row
    // so bytes grow ~linearly with input
    "q_target_encode" -> false,
    // round-9 wave 39: weighted quantiles = the q_exact_quantiles 2-pass
    // selection exactly (weighted histogram, same DOMAIN-bounded bin
    // partial-state artifact class, same flag); Cochran-Armitage = one
    // map-side (segment, hour) census to <=72 domain groups + rollup
    // (the q_cube class); MASE = the q_forecast_snaive span-bounded
    // hourly series class (only the first groupBy grows — measured 14x
    // on 0.1 -> 1.4 MB ABSOLUTE, the hourly partial-agg state =
    // partitions × 744 hour groups vs a ~1-split base, the
    // q_exact_quantiles small-absolute layout artifact, so flagged)
    "q_weighted_quantile" -> true,
    "q_cochran_armitage" -> false,
    "q_forecast_mase" -> true,
    // round-9 wave 40: Jarque-Bera = ONE map-side moment pass to 5
    // event_type groups (partial state = partitions × 5 — near-zero
    // shuffle); split gain = ONE map-side value-unit bin census
    // (domain-bounded, the q_cube class) + broadcast B² self-join.
    // q_harmonic_centrality is lineitem-graph-scoped (ScopedExempt).
    "q_jarque_bera" -> false,
    "q_split_gain" -> false,
    // round-9 wave 41: label windows = ONE user-keyed conditional agg
    // (distinct-type expansion bounded at 5 types/row) — the
    // q_active_users partial-state key class (same base-single-split
    // artifact flag); quantile align = two partitioned row_number
    // windows + one rank-equality join, all row-sized and linear.
    // q_zone_scan is store-class (builds a layout) — bench-covered
    // like q_skip_scan/q_bloom_scan, not replica-probed.
    "q_label_windows" -> true,
    "q_quantile_align" -> false,
    // round-9 wave 42: seasonal strength = the q_seasonal_stl banded
    // decomposition + a span-bounded moment rollup (only the first
    // hourly groupBy grows — the q_forecast_mase hourly series class,
    // flagged for the same small-absolute partial-agg layout artifact)
    "q_seasonal_strength" -> true,
    // round-9 wave 43: contribution-bounded DP census = a (user, type,
    // day) map-side census (row-sized partial state — measured 6.9x =
    // exponent 1.2, the usual single-split-base partial-agg factor on
    // a linear pass) + a domain-frame rollup (the q_dp_counts class)
    "q_dp_bounded" -> false,
    // round-9 wave 46: CvM = the q_ks_test distinct-value census
    // machinery verbatim (shared driftCumFrame), different final reduce
    "q_cvm_test" -> false,
    // round-9 wave 45: group folds = ONE fold-keyed conditional agg
    // with a distinct-user expansion — the q_active_users partial-
    // dedup key class (same base-single-split artifact flag; measured
    // 58x on 0.1 -> 5.8 MB ABSOLUTE: the base pre-collapses to 5 fold
    // rows in ~1 split while the replica's partial-distinct state is
    // splits × users — matched layouts => linear in users)
    "q_group_folds" -> true,
    // round-11 wave 1:
    // prefix dedup = one (hash, hash) pair shuffle per doc — the
    // q_dedup_exact shape with a second hash column
    "q_dedup_prefix" -> false,
    // hapax / zipf ride the (lang, term) frequency census; vocab is
    // constant across verbatim copies (the q_chi2_terms class), zipf
    // adds only a class-census window (domain-bounded)
    "q_hapax_ratio" -> false,
    "q_zipf_fit" -> false,
    // CMS census = ×4 explode + 1,024 DOMAIN-bounded register groups;
    // partial-agg state = input_partitions × 1,024 (the q_hotspot /
    // q_embed_drift layout class — flat on matched layouts)
    "q_cms_census" -> true,
    // CMS estimate adds the user-keyed true-count agg — the
    // q_abtest/q_seq_pairs (user)-keyed base-single-split class
    "q_cms_estimate" -> true,
    // PR curve / AP / Brier = the q_auc (day, bin) census class: one
    // map-side count agg, window over the domain-bounded census only
    "q_pr_curve" -> false,
    "q_avg_precision" -> false,
    "q_brier" -> false,
    // token-budget draw = one (group, 256-bucket) histogram agg + a
    // codegen'd keep filter + a boundary-bucket-only (1/256 slice)
    // window — linear in docs; driver math is ≤ groups×256 rows
    "q_token_budget" -> false,
    // global exact-k sample = one TakeOrdered (k-heap per partition)
    "q_reservoir" -> false,
    // q_mutual_nn moved to CandProbes after the r12 ANN swap: on the
    // VERBATIM replica every vector is a 5-way exact duplicate, which
    // collapses identical signatures into shared dense-operating-point
    // buckets and degenerates the candidate aggregation (measured: the
    // verbatim probe ran 50+ min before being aborted) — the dup-dense
    // corpus class belongs to the dedup family, which runs BEFORE ANN
    // in any real pipeline; the jittered unique replica shows the
    // natural-corpus candidate growth the swap must certify.
    // PGM decode / resize = pure row-local render→parse→array-math
    // projections (the q_chunk_tokens zero-shuffle class; the ordered
    // output adds one range exchange)
    "q_image_decode" -> false,
    "q_image_resize" -> false,
    // WAV / Y4M render→parse = the same row-local projection class
    "q_audio_decode" -> false,
    "q_video_decode" -> false,
    // LSH tuning table runs three band joins over the verbatim replica,
    // where every doc is a 5-way near-dup — candidate volume ~25x on 5x
    // BY CONSTRUCTION (the q_dedup_minhash pair_blowup_expected class)
    "q_lsh_tuning" -> true,
    // per-source dup census = one (hash) count agg + one hash-keyed
    // join back + a source rollup — the q_dedup_exact shuffle shape
    "q_dup_by_source" -> false,
    // round-12: hashed-bigram DSIR selection = gram explode hashed
    // row-local to 256 buckets → one (doc, bucket) map-side agg +
    // 256-row broadcast model + TakeOrdered top-k — linear in docs
    // (bucket model size is FIXED, independent of corpus)
    "q_dsir_select" -> false,
    // round-12: prototype pruning = row-local centroid assignment +
    // domain-bounded (k × bins) histogram + k-row broadcast threshold
    "q_prototype_prune" -> false,
    // round-12: scalar XML render→parse is row-local projection (the
    // q_chunk_tokens class) + a 5-group agg; the file-store twin
    // q_xml_roundtrip is store-class, bench-covered like q_orc/q_csv
    "q_xml_extract" -> false,
    // round-12: longitudinal k-anonymity = ONE (hod × vband) map-side
    // agg over a ~288-class domain; distinct-entity partial state is
    // (class, user) pairs — users ×5 ⇒ linear; census is O(classes)
    "q_k_anonymity" -> false,
    // round-12: split-conformal = two grouped 2-pass selections over
    // domain-bounded (group, bin) histograms + one coverage agg — the
    // q_exact_quantiles class, flagged for the same LAYOUT artifact
    // (partial-agg state = input_partitions × domain bins; the sf0.1
    // base lands in ~1 parquet split vs the replica's 32)
    "q_conformal" -> true
  )

  /** Explicit scoped-input exemptions (VERDICT r6 Next #8): queries whose
    * input size is pinned by construction, so a 5× replica cannot grow
    * their work and a measured exponent would be noise, plus queries on
    * tables the replica does not carry.
    *  - q_er_hamming / q_er_sorted / q_er_golden: customer filtered to
    *    c_custkey < 500 (and % 7 for golden) — fixed 500-row ER scope.
    *  - q_bfs_hops / q_triangle_count / q_assoc_rules / q_pagerank and
    *    the other TPC-H-table queries: the replica replicates only the
    *    documents/embeddings/events axes (TESTDATA's lineitem growth
    *    axis is the driver's own sf ladder — their sf0.01 → sf0.1
    *    behavior is measured by the per-round bench instead).
    *  - Streaming q_stream_*: single availableNow replay over the
    *    events store build; micro-batch scheduling dominates at this
    *    scale, and the stateful operators' growth axis (keys × state)
    *    is pinned by StreamingSpec's bounded-state assertions. */
  private val ScopedExempt: Seq[String] = Seq(
    "q_er_hamming", "q_er_sorted", "q_er_golden",
    "q_bfs_hops", "q_triangle_count", "q_assoc_rules", "q_pagerank",
    // round-8: customer-name fuzzy join — customer is a TPC-H-axis table
    // the replica does not carry; its sf0.01 → sf0.1 growth (1.5k → 15k
    // names, variant buckets ≤ 10 by digit structure) is measured by the
    // per-round bench like the other TPC-H queries
    "q_fuzzy_join",
    // round-8: k-core peeling and weighted SSSP — lineitem co-purchase
    // axis, same class as q_triangle_count/q_pagerank
    "q_kcore", "q_sssp",
    // round-8 third wave: synchronized LPA communities and personalized
    // PageRank — same lineitem axis as q_kcore/q_sssp/q_pagerank
    "q_label_prop", "q_ppr", "q_hits",
    // round-8 fourth wave: crowd-label aggregation — lineitem annotation
    // axis, same class as the graph queries above
    "q_label_vote",
    // round-8 fourth wave: common-neighbor link prediction — lineitem
    // co-purchase axis (the q_triangle_count wedge cost class)
    "q_link_predict",
    // round-8 fifth wave: inter-annotator kappa (lineitem annotation
    // axis, the q_label_vote class — per-item pair join is the wedge
    // cost class bounded by annotators-per-item) and the Benford digit
    // audit (lineitem price axis; one 9-group map-side agg — the
    // q_gini_mix zero-growth output class)
    "q_kappa", "q_benford",
    // round-8 sixth wave: FK audit runs on the TPC-H axis tables the
    // replica does not carry (lineitem/orders/customer/nation); the
    // l-diversity audit is customer-axis for the same reason
    "q_fk_audit", "q_l_diversity", "q_fuzzy_join2",
    // round-8 seventh wave: degree-distribution histogram runs on the
    // lineitem co-purchase axis (the q_triangle_count class)
    "q_degree_dist",
    // round-9: item-item CF cosine runs on the lineitem co-purchase
    // axis (the q_assoc_rules wedge cost class)
    "q_item_cf",
    // round-9 wave 5: clustering coefficient and resource-allocation
    // link prediction run on the lineitem co-purchase axis (the
    // q_triangle_count / q_link_predict classes); cohort LTV on the
    // orders axis the replica does not carry
    "q_clustering_coeff", "q_link_ra", "q_cohort_ltv",
    // round-9 wave 6: LPA modularity runs on the lineitem co-purchase
    // axis (the q_label_prop class)
    "q_modularity",
    // round-9 wave 8: degree assortativity — lineitem co-purchase axis
    "q_assortativity",
    // round-9 wave 13: frequent triples — lineitem basket axis (the
    // q_assoc_rules class)
    "q_assoc_triples",
    // round-9 wave 22: t-closeness audit — customer axis the replica
    // does not carry (the q_l_diversity class; cell frame additionally
    // domain-bounded at nations x segments x k-euro-bands)
    "q_t_closeness",
    // round-9 wave 28: conductance runs on the lineitem co-purchase
    // axis (the q_modularity class — identical frames, different
    // final arithmetic)
    "q_conductance",
    // round-9 wave 37: k-truss peel runs on the lineitem co-purchase
    // axis (per-round support pass = the q_triangle_count O(m^1.5)
    // plan on the staged survivor edges)
    "q_ktruss",
    // round-9 wave 38: incremental join-view maintenance runs on the
    // orders⋈lineitem TPC-H axis the replica does not carry
    "q_ivm_join",
    // round-9 wave 40: harmonic centrality runs on the lineitem
    // co-purchase axis (the q_bfs_hops frontier class, one multi-seed
    // sweep)
    "q_harmonic_centrality",
    // round-9 wave 44: blocking-quality audit — the q_er_* fixed
    // 500-row customer ER scope
    "q_er_quality",
    // round-11: bipartite check runs on the lineitem co-purchase axis
    // (one q_bfs_hops BFS + one edges⋈labels join — the same class)
    "q_bipartite",
    // round-11: 2-sweep diameter — the same axis, two q_bfs_hops BFS
    "q_diameter")

  /** Dedup/ANN candidate-generation probes (VERDICT r5 Next #4), run
    * against the UNIQUE-TEXT replica: verbatim text replication makes
    * every doc a 5-way near-dup, so candidate volume inflates ~25× BY
    * CONSTRUCTION and says nothing about the pipeline. Prefixing every
    * token with the copy index kills cross-copy candidates (every
    * shingle/band key differs) while keeping each copy's natural dup
    * structure intact — so a candidate generator whose band rows are
    * ~k·n shuffles ~5× on 5× docs, and an n² blowup would show as ~25×.
    * Embeddings get a per-(dimension, copy) jitter for the same reason
    * (verbatim vectors would collapse into identical LSH buckets). */
  private val CandProbes: Seq[String] = Seq(
    "q_dedup_minhash",
    "q_dedup_simhash_neardup64",
    // blob64, not blob: the 32-bit/4-block family has 256 keys per block,
    // so its buckets saturate and in-bucket pairs grow quadratically
    // (measured 13× shuffle at 5× here) — that family is the VALUE oracle
    // at sf scale; blob64 is the production path this probe must certify
    "q_dedup_blob64",
    "q_decontaminate_bloom",
    "q_ann_multiprobe",
    "q_dedup_ppjoin",
    // round-7: on the VERBATIM replica the suffix-array tied sets stay
    // corpus-sized for every round (each doc has 5 identical copies, so
    // every rank is ≥5-way tied until the horizon reaches its doc
    // separator) — the unique-text replica shows the natural-corpus
    // behavior where ties collapse after the early rounds
    "q_suffix_array",
    "q_dedup_substring",
    // round-7 closing wave: IVF-PQ probing (embeddings get per-copy
    // jitter so buckets don't collapse) + the broadcast-assignment
    // k-means twin (same staged scan, join-shaped assignment)
    "q_ann_ivfpq",
    "q_cluster_kmeans_bcast",
    // eval probes the staged train index across frames — the incremental
    // contract's embedding twin. NOTE the jitter does NOT decorrelate
    // this one: ±0.1/dim keeps cross-copy cosine ≈ 0.98 >> the 0.35
    // threshold, so cross-copy twins are TRUE leaks and candidates
    // measure 25.5× (86.5k → 2.21M) — genuine output growth (the
    // q_spatial_join physics class), not a candidate-generator defect
    "q_embed_leakage",
    // round-8 third wave: cluster-atomic split = the q_dedup_minhash
    // candidate pipeline + CC + one left join — probed on the unique-
    // text replica for the same reason as the cluster queries
    "q_split_safe",
    // round-8 third wave: incremental CC probes the same candidate
    // pipeline; CC rounds run on the batch-contracted graph. Measured
    // 0.0 → 0.2 MB: the content-keyed pair/label staging is absorbed by
    // the warm-up pass (by design — it is the persisted index), and the
    // measured pass is broadcast relabel + a cluster-size window over
    // the clustered subset only
    "q_cc_incremental",
    // containment prefix: k_A rarest shingles × inverted index — the
    // rotated-alphabet replica keeps cross-copy shingles disjoint
    "q_containment",
    // round-8 eighth wave: cluster-diameter audit = the q_split_safe
    // pipeline (verified pairs + CC) + one id-keyed component join and
    // an O(clusters) verdict agg
    "q_cluster_diameter",
    // round-9 wave 43: incremental IVF probes the STAGED base postings
    // (absorbed by the warm-up pass like q_cc_incremental — it is the
    // persisted index); the measured pass is the batch-sized delta
    // assignment + the fixed 5-query probe/verify
    "q_ann_incremental",
    // round-12: mutual top-1 on ANN candidates (IVF postings +
    // multi-probe LSH bands) — jittered embeddings keep buckets from
    // collapsing (the q_ann_ivfpq reason); on the verbatim replica the
    // 5-way identical vectors degenerate the dense operating point
    // (moved here from Probes after a 50-min aborted verbatim run)
    "q_mutual_nn",
    // round-13 (VERDICT r12 Next #3): the SPARSE-regime pricing — the
    // clustered fixture re-derives its vectors from (vec_id, raw value),
    // so the replica's jitter only perturbs the planted noise; cluster
    // count scales with corpus size (bounded cluster SIZE), which is
    // exactly why these two should grow ~linearly where dense
    // q_mutual_nn measured 24.5x at 5x
    "q_mutual_nn_clustered",
    "q_embed_leakage_clustered"
  )

  /** Per-query conf pins for the probe. ppjoin's verify joins fit under
    * the broadcast threshold at sf0.1 but not at 5×, so the default plans
    * hide the per-pair verify bytes on ONE side only and the ratio reads
    * ~33× for a volume that is linear in candidate pairs (measured 5.0×
    * pair growth via DuckDB on the replica files). Disabling broadcast at
    * BOTH scales makes the two measurements the same plan; the conf is
    * restored after each measure. */
  private val ProbeConf: Map[String, Seq[(String, String)]] = Map(
    "q_dedup_ppjoin" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Same regime-boundary artifact, round 13: the clustered twins'
    // verify joins broadcast the corpus vector frame at 1x/5x (10k x
    // 520B ~ 5 MB < the 10 MB threshold) but SMJ at 25x (26 MB), so the
    // raw 5x->25x exponent reads the PLAN FLIP (2.3/2.45), not growth.
    // Pinned off, every scale measures the SMJ regime — the only one at
    // 100 TB, where a corpus vector map never broadcasts.
    "q_mutual_nn_clustered" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "q_embed_leakage_clustered" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Same plan-flip artifact as ppjoin, root-caused by per-round SaProbe
    // attribution (BUILDER_NOTES r8): at sf0.1 the tied set after round 1
    // drops under the broadcast threshold so doubling rounds 2-3 plan as
    // broadcast joins (~1 MB each), while at 5× they stay sort-merge and
    // shuffle the full ranks frame — rounds 2-3 measured 188×/222× while
    // every other phase is ~5-7× linear. Pinning broadcast off measures
    // the SMJ regime at BOTH scales — the only regime that exists at
    // 100 TB, where tied sets never fit a broadcast.
    "q_suffix_array" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Expfit (r8) showed a 3.69 shuffle exponent on the 5×→25× segment
    // while DuckDB-measured candidate fan-out is EXACTLY 5.00× per
    // segment (119,829 → 598,982 → 2,994,955 rows): at small scale the
    // shingle-array sides of the verify join broadcast (pair frame
    // streams, zero array shuffle); past the threshold the contained
    // doc's array ships with every candidate pair — linear in pairs but
    // with the per-pair |A|-array constant broadcast was hiding. Pin the
    // SMJ regime at every scale so the exponent measures growth, not the
    // plan flip (the exact ppjoin precedent).
    "q_containment" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Same flip on top of the KNOWN copies²-true-leak physics (r7 root
    // cause: cross-copy jittered embeddings sit at cosine ≈ 0.98, every
    // cross-copy twin is a real leak): output pairs grow ~25× per 5×
    // segment by construction, and past the broadcast threshold the
    // per-pair verify payload ships instead of riding a broadcast. Pin
    // so the exponent isolates the output physics (expected ~2.0 in the
    // same-plan regime, = log₅ of the copies² pair growth).
    "q_embed_leakage" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Round-8: at 5× AQE broadcasts the EVENT-ROW side of the totals
    // join (BuildLeft on the 500k-row frame!) so the window inherits the
    // tiny totals exchange's key partitioning and the big exchange
    // disappears from the shuffle counter — broadcast bytes aren't
    // shuffle bytes, so the probe read 1.1× on 5× input. Legal and even
    // fast in local mode; nonsense at 1000 executors (a fact-table
    // broadcast). Pinning measures the SMJ regime both sides: 6.0×
    // (8.5 → 51.2 MB, AQE-off differential in BUILDER_NOTES).
    "q_acf" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Same AQE fact-broadcast artifact as q_acf (ljungBox IS acfPpm +
    // row-local arithmetic) — pin so the probe measures the SMJ regime.
    "q_ljung_box" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Round-14 expfit sweep (VERDICT r13 Next #6): the degree frame of
    // the oriented triangle join fits a broadcast at 1x/5x but not 25x —
    // pin the SMJ regime at every scale (at 100 TB a node-degree frame
    // never broadcasts; the q_acf precedent).
    "q_triangle_count" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    // Round-15 expfit sweep (VERDICT r14 Next #5) — the rest of the
    // heavy-shuffle graph family gets the q_triangle_count treatment:
    // their per-round degree/survivor/frontier frames flip between
    // broadcast and SMJ across 1x/5x/25x, and only the SMJ regime
    // exists at 100 TB.
    "q_kcore" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "q_harmonic_centrality" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "q_ktruss" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "q_clustering_coeff" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "q_bfs_hops" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  )

  /** Probe-only SCALED twins for expfit (VERDICT r13 Next #6): a
    * registered query whose FIXED scope makes it corpus-size-independent
    * (q_fuzzy_join2 clamps to 2,000 names so its brute SQL oracle stays
    * tractable) measures nothing on a replica — the variant scales the
    * scope with the corpus via `pmod(key, 10M)`, which is the IDENTITY on
    * the base dir (ids < 10M) and selects every copy's 2,000-name scope
    * on the replicas. Same operator, same per-copy structure, honest
    * growth axis. */
  private val FitVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fuzzy_join2" -> ((s, dir) => graft.operators.Dedup.fuzzyPairsEd2(
      graft.sources.Tables.customer(s, dir)
        .filter(pmod(col("c_custkey"), lit(10000000L)) <= 2000L)
        .select(col("c_name")), "c_name")
      .orderBy("s_a", "s_b")))

  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    val base = "/root/testdata/sf0.1"
    val big = "target/scaleprobe/sf0.5"
    buildReplica(spark, base, big, copies = 5)

    val census = StageCensus.install(spark)

    def measure(name: String, dir: String): (Double, Double) = {
      val pinned = ProbeConf.getOrElse(name, Nil)
      val saved = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
      pinned.foreach { case (k, v) => spark.conf.set(k, v) }
      try measureInner(name, dir)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    def measureInner(name: String, dir: String): (Double, Double) = {
      // Untimed warm-up pass FIRST: query construction eagerly builds any
      // content-keyed staged frames, and whether those already exist
      // depends on what ran before (Bench wipes the store root, then
      // rebuilds only the dirs IT touches) — measuring one side cold and
      // the other warm inflates the ratio with linear stage-build
      // shuffle that has nothing to do with candidate volume (observed:
      // a cold-replica/warm-base decontamination probe reads 37×; the
      // honest warm/warm candidate ratio is ~6×). After the warm-up both
      // sides time the same thing: the query's own joins/aggregations
      // over staged index scans.
      val q = FitVariants.getOrElse(name, SparkEntry.queries(name))
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val (secs, w) = census.measure {
        val t0 = System.nanoTime()
        q(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      ((secs * 100).round / 100.0, (w.shuffleBytes / 1e5).round / 10.0)
    }

    // Third scale point + exponent fit (VERDICT r7 Next #2): two points
    // cannot distinguish n^1.5 from n·log n + constant, so the flagged
    // rows get a 25× unique-text replica and a per-segment exponent
    // fit: exp = ln(shuffle_b/shuffle_a) / ln(5) per 5× segment.
    // Anything fitting ≥ 1.3 in shuffle across BOTH segments needs a
    // plan fix or a documented physics cause.
    if (args.headOption.contains("expfit")) {
      val u5 = "target/scaleprobe/sf0.5u"
      val u25 = "target/scaleprobe/sf2.5u"
      buildUniqueReplica(spark, base, u5, copies = 5)
      buildUniqueReplica(spark, base, u25, copies = 25)
      ensureUniqueFactTables(spark, base, u5, copies = 5)
      ensureUniqueFactTables(spark, base, u25, copies = 25)
      Seq(base, u5, u25).foreach { d =>
        spark.read.parquet(s"$d/documents.parquet")
          .write.format("noop").mode("overwrite").save()
      }
      val fitProbes = if (args.length > 1) args.drop(1).toSeq
        else Seq("q_suffix_array", "q_dedup_substring", "q_containment", "q_embed_leakage")
      println("expfit_query,mb_1x,mb_5x,mb_25x,exp_1to5,exp_5to25,s_1x,s_5x,s_25x")
      fitProbes.foreach { name =>
        val (t1, s1) = measure(name, base)
        val (t5, s5) = measure(name, u5)
        val (t25, s25) = measure(name, u25)
        def e(a: Double, b: Double) =
          if (a > 0 && b > 0) (math.log(b / a) / math.log(5.0) * 100).round / 100.0 else -1.0
        println(s"$name,$s1,$s5,$s25,${e(s1, s5)},${e(s5, s25)},$t1,$t5,$t25")
      }
      spark.stop()
      return
    }

    // warm both datasets once (codegen + FS cache parity)
    spark.read.parquet(s"$base/documents.parquet").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$big/documents.parquet").write.format("noop").mode("overwrite").save()

    // optional args = probe only these queries (local iteration).
    // Fail fast on unknown names (ADVICE r7): a typo'd filter would
    // silently match nothing and print a clean-looking empty table.
    val known = (Probes.map(_._1) ++ CandProbes).toSet
    val unknown = args.filterNot(known)
    require(unknown.isEmpty,
      s"unknown probe name(s): ${unknown.mkString(", ")} — known: ${known.toSeq.sorted.mkString(", ")}")
    val only = args.toSet
    def wanted(n: String) = only.isEmpty || only(n)
    println(s"scoped_exempt=${ScopedExempt.mkString(",")}")
    println("query,blowup_expected,sf0.1_s,sf0.5_s,time_x,sf0.1_shuffle_mb,sf0.5_shuffle_mb,shuffle_x")
    Probes.filter(p => wanted(p._1)).foreach { case (name, blowup) =>
      val (t1, s1) = measure(name, base)
      val (t5, s5) = measure(name, big)
      val tx = if (t1 > 0) ((t5 / t1) * 10).round / 10.0 else -1
      val sx = if (s1 > 0) ((s5 / s1) * 10).round / 10.0 else -1
      println(s"$name,$blowup,$t1,$t5,$tx,$s1,$s5,$sx")
    }

    val bigU = "target/scaleprobe/sf0.5u"
    buildUniqueReplica(spark, base, bigU, copies = 5)
    spark.read.parquet(s"$bigU/documents.parquet").write.format("noop").mode("overwrite").save()
    println("candidate_probe,sf0.1_s,sf0.5u_s,time_x,sf0.1_shuffle_mb,sf0.5u_shuffle_mb,shuffle_x")
    CandProbes.filter(wanted).foreach { name =>
      val (t1, s1) = measure(name, base)
      val (t5, s5) = measure(name, bigU)
      val tx = if (t1 > 0) ((t5 / t1) * 10).round / 10.0 else -1
      val sx = if (s1 > 0) ((s5 / s1) * 10).round / 10.0 else -1
      println(s"$name,$t1,$t5,$tx,$s1,$s5,$sx")
    }
    spark.stop()
  }

  /** Union `copies` id-offset replicas of the sf0.1 tables into `out`.
    * Offsets keep ids disjoint while preserving per-entity event
    * densities and the 30-day time span (constant partition count,
    * 5× rows per partition — the pure data-volume axis). */
  def buildReplica(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    // Fixed DIMENSION tables ride along verbatim (1×): the replica grows
    // the fact axes only, so a dim-probing query (q_nn_join's 500-site
    // table) keeps candidate volume linear in probes — checked outside
    // the done-marker so pre-existing replicas pick it up.
    val partOut = java.nio.file.Paths.get(out, "part.parquet")
    if (!java.nio.file.Files.exists(partOut)) {
      spark.read.parquet(s"$base/part.parquet")
        .write.mode("overwrite").parquet(s"$out/part.parquet")
    }
    val done = java.nio.file.Paths.get(out, "_REPLICA_OK")
    if (java.nio.file.Files.exists(done)) return

    def replicate(df: DataFrame, bump: DataFrame => Int => DataFrame): DataFrame =
      (0 until copies).map(i => bump(df)(i)).reduce(_ unionAll _)

    val docs = spark.read.parquet(s"$base/documents.parquet")
    replicate(docs, d => i => d.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    replicate(emb, d => i => d.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = graft.sources.Tables.events(spark, base)
    replicate(ev, d => i => d
        .withColumn("event_id", col("event_id") + lit(i * 10000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000L)))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    java.nio.file.Files.createFile(done)
    ()
  }

  /** Unique-text replica for the candidate-generation probes: copy 0 is
    * verbatim; copies i > 0 rewrite the text through a per-copy rotated
    * alphabet (translate over a−z and 0−9, shift 5·i). Character-level
    * rotation is the decorrelation that matters: the first replica
    * design prefixed every TOKEN with `c<i>`, which decorrelates word
    * shingles but leaves byte 4-grams and char 5-grams ~identical across
    * copies — so the byte-level families (q_dedup_blob, the char-shingle
    * decontamination) measured 15–38× shuffle on 5× input: cross-copy
    * pairs that ARE near-dups at the byte level, a probe artifact, not a
    * pipeline defect. Rotation keeps each copy's internal dup structure
    * intact (one bijection applied to near-dups preserves their
    * similarity at every granularity) while making all shingle/band/gram
    * keys disjoint across copies. Embeddings get a per-(dimension, copy)
    * jitter for the same reason. doc_id offset is 10M so the planted-dup
    * ids some queries add (base + 1M) never collide with a replica id. */
  def buildUniqueReplica(spark: SparkSession, base: String, out: String, copies: Int): Unit = {
    val done = java.nio.file.Paths.get(out, "_REPLICA_OK")
    if (java.nio.file.Files.exists(done)) return

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    def rot(s: String, n: Int): String = s.drop(n % s.length) + s.take(n % s.length)

    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until copies).map { i =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
      if (i == 0) d
      else d.withColumn("text",
        translate(col("text"), alpha + digits, rot(alpha, 5 * i) + rot(digits, 3 * i)))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until copies).map { i =>
      val d = emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, dIdx) =>
          (x + (pmod(dIdx * 7 + lit(i * 13), lit(11)) - 5).cast("float") * lit(0.02f))
            .cast("float")))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    java.nio.file.Files.createFile(done)
    ()
  }

  /** Round-14 fact axes for the NON-ANN expfit probes (VERDICT r13
    * Next #6) — checked per-table OUTSIDE [[buildUniqueReplica]]'s done
    * marker so pre-existing r13 replicas pick them up:
    *  - customer: key offset 10M (so `pmod(key, 10M)` recovers the
    *    per-copy scope) + per-copy LETTER+digit rotated names for
    *    copies > 0 — one character bijection per copy keeps each copy's
    *    internal edit-distance structure exactly intact while pushing
    *    cross-copy name pairs far apart in edit distance: the lowercase
    *    shift 5·i mod 26 is distinct for every i < 26, so any two
    *    copies' names differ at ALL seven lowercase positions of
    *    "Customer#NNNNNNNNN" (ed >= 7 >> the ed-2 probe threshold).
    *    Digits alone (the r14 scheme, shift 3·i mod 10) had period 10:
    *    copies {0,10,20} drew IDENTICAL name sets, so the 25x
    *    q_fuzzy_join2 point picked up cross-copy ed-0 pairs and the
    *    fitted exponent read superlinear (ADVICE r14). Disjointness is
    *    asserted in ScaleProbeSpec;
    *  - lineitem: order/part/supp keys offset 10M per copy → `copies`
    *    DISJOINT co-purchase graphs with identical degree structure
    *    (triangle/graph probes measure plan growth, not new physics);
    *  - events: event_id offset 10M; user_id offset i·65536 — multiples
    *    of the grid mask, so `gy = user_id & 65535` (the Hilbert/Z-order
    *    cell) is IDENTICAL per copy and a fixed bbox's hit count scales
    *    exactly ×copies while ids stay globally unique. */
  def ensureUniqueFactTables(spark: SparkSession, base: String, out: String,
      copies: Int): Unit = {
    val digits = "0123456789"
    def rot(s: String, n: Int): String = s.drop(n % s.length) + s.take(n % s.length)
    def missing(name: String) =
      !java.nio.file.Files.exists(java.nio.file.Paths.get(out, name, "_SUCCESS"))

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    // scheme marker forces a one-time rebuild of replicas written under
    // the digit-only r14 name scheme (collisions at copies {0,10,20})
    val nameSchemeV2 =
      java.nio.file.Paths.get(out, "customer.parquet", "_NAME_SCHEME_V2")
    if (missing("customer.parquet") ||
        !java.nio.file.Files.exists(nameSchemeV2)) {
      val cust = spark.read.parquet(s"$base/customer.parquet")
      (0 until copies).map { i =>
        val d = cust.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L))
        if (i == 0) d
        else d.withColumn("c_name", translate(col("c_name"),
          alpha + digits, rot(alpha, 5 * i) + rot(digits, 3 * i)))
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      java.nio.file.Files.createFile(nameSchemeV2)
      ()
    }
    if (missing("lineitem.parquet")) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      (0 until copies).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L))
          .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * 10000000L))
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    if (missing("events.parquet")) {
      val ev = graft.sources.Tables.events(spark, base)
      (0 until copies).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * 10000000L))
          .withColumn("user_id", col("user_id") + lit(i * 65536L))
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
  }
}
