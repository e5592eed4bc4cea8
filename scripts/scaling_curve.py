#!/usr/bin/env python
"""Measure how headline queries scale across the three fixture sizes
(sf0.001 → sf0.01 → sf0.1, a 10× data step each) and write SCALING.md.

The interesting number is the LAST ratio (sf0.01 → sf0.1): by then the
per-job scheduler overhead (~0.2-0.4 s/job on this VM) is amortized
enough that the ratio approximates the plan's data-dependent cost
growth. A ratio near 1 means fixed overhead still dominates (the query
is far from its scale regime); near 10 means linear in data — the
expected slope for scan-bound plans; well above 10 flags superlinear
behavior that 100× would punish.

Usage: python scripts/scaling_curve.py   (quiet machine; ~4 min)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "word_count",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "dedup_exact",
    "dedup_passages",
    "dedup_minhash_lsh",
    "similarity_topk_ivf",
    "decontam_hits",
    "pagerank_trade_graph",
    "events_sessions_pandas",
    "tpch_q5_local_supplier_volume",
    "assemble_training_set",
    "assemble_training_set_v2",
    "dedup_jaccard_prefix_filter",
    "linear_gd_price_model",
    "events_ewma_value",
    "bpe_train_merges",
    "multimodal_patchify",
    # round-4 additions
    "dedup_incremental_crawl",
    "dedup_duplicate_spans",
    "dsir_select_topk",
    "bm25_stats",
    "hard_negative_mining",
    "events_context_pairs",
    "assemble_training_set_v4",
    "corpus_drift_kl",
    "similarity_topk_pq",
    "kmeans_embeddings",
    "graph_components_cosupply",
    "bpe_encode_corpus",
]
SFS = ["0.001", "0.01", "0.1"]
REPS = 3

# The expensive tail also gets an sf≈1 point (the key-shifted 10×
# self-union of sf0.1 built by scripts/make_sf1.py into .sf1/) —
# one more measured decade for exactly the plans whose growth matters.
SF1_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1")
SF1_QUERIES = [
    # round-6 additions (VERDICT r5 tasks 3 + 8): the round-5 operator
    # families the decade had not seen, the rewritten semantic-dedup
    # path, and the MR-compat facade (Arrow-UDF overhead vs native).
    # dedup_embedding_clusters_lsh is deliberately absent: at the
    # fixture's threshold-0.3 regime its candidate set is ~14% of all
    # pairs by design (see the operator docstring) — the sf≈1 point
    # would measure that documented non-regime, not the plan.
    "similarity_topk_ivfpq",
    "similarity_topk_sq8",
    "dedup_exact_substrings",
    "events_twap_daily",
    "train_test_split_leakage_safe",
    "doc_novelty_scores",
    "dedup_embedding_clusters",
    "word_count_mr",
    "inverted_index_mr",
    "word_count",
    "inverted_index",
    "bpe_encode_corpus",
    "pagerank_trade_graph",
    "similarity_topk_pq",
    "assemble_training_set",
    "assemble_training_set_v4",
    "assemble_training_set_v2",
    "bpe_train_merges",
    "dedup_duplicate_spans",
    "dedup_jaccard_prefix_filter",
    "dedup_incremental_crawl",
    "similarity_topk_ivf",
    "dedup_passages",
    "dsir_select_topk",
    "dedup_minhash_lsh",
    "decontam_hits",
    "graph_components_cosupply",
    "cogroup_view_purchase_pairs",
    # round-7 additions (VERDICT r6 task 4): the round-6 operator
    # families the decade had not seen...
    "search_hybrid_rrf",
    "source_overlap_matrix",
    "denoise_span_corruption_pairs",
    "source_token_allocation",
    "events_ohlc_daily",
    "ccnet_quality_buckets",
    "text_mojibake_audit",
    "matryoshka_recall_curve",
    # dedup_embedding_clusters_lsh joins the decade too: at the
    # fixture's threshold-0.3 the candidate fraction is the documented
    # ~14%-of-all-pairs non-regime, so its ratio MEASURES that physics
    # (the production >=0.9 regime is pinned separately in tests).
    "dedup_embedding_clusters_lsh",
    # ...and the round-7 operators, decade-measured from birth.
    "assemble_training_set_v5",
    "search_phrase_positions",
    "sketch_hll_rolling_7d",
    "events_attribution_position",
    "embedding_label_centroids",
    "weighted_median_price",
    "term_pmi_top",
    # round-7 continuation (D185-D201), decade-measured from birth
    "dedup_containment_pairs",
    "abtest_value_welch",
    "sketch_cms_registers_exact",
    "tokenizer_fertility_by_source",
    "mutual_knn_pairs",
    "basket_association_rules",
    "embedding_jl_projection",
    "events_cusum_changepoints",
    "skyline_orders",
    "text_trigram_backoff_score",
    "rfm_segmentation",
    "session_path_mining",
    "similarity_mmr_rerank",
    "multimodal_phash_dedup",
    "multimodal_audio_logmel",
    # round-9 additions (D206-D217), decade-measured from birth.
    # dedup_embedding_clusters_lsh_auto is the headline: its COUNT-
    # derived width (8 bits at sf0.1 -> 12 bits at sf≈1) is exactly
    # what should flatten the fixed-width twin's documented candidate
    # growth — the two rows measure the lever side by side.
    "dedup_embedding_clusters_lsh_auto",
    "assemble_training_set_v6",
    "dedup_snm_pairs",
    "dedup_canonical_map",
    "text_winnow_pairs",
    "events_markov_attribution",
    "events_sequential_pairs",
    "events_seasonal_baseline",
    "search_proximity",
    "itemcf_topk",
    "abtest_cuped_adjust",
    # round-10 completions (VERDICT r9 task 3): the two late-round-9
    # operators that postdated the last decade run.
    "text_rake_keyphrases",
    "embedding_top_pc",
    # round-10 additions (D220-D237), decade-measured from birth.
    # lsh_width_ladder is deliberately ABSENT: its sf≈1 point would
    # measure the exact all-pairs TRUTH SET (20k² fold-cosine checks —
    # observed >25 min in a single reduction task), which the audit
    # computes BY DESIGN to grade recall and which its docstring
    # already mandates sampling at production scale; the serving-path
    # member of that family in the decade is dedup_embedding_clusters_
    # lsh_auto (D206).
    "source_quality_drift",
    "text_longest_repeat",
    "events_bot_scores",
    "events_hourly_acf",
    "vocab_gt_spectrum",
    "text_tfidf_cosine_pairs",
    "fk_integrity_audit",
    "text_rouge_adjacent",
    "events_concurrency_profile",
    "abtest_bootstrap_ci",
    "stylometry_burrows_delta",
    "events_holt_forecast",
    "graph_degree_assortativity",
    "events_retention_hazard",
    "embedding_sq2_codebook",
    "multimodal_audio_resample",
    "t_closeness_audit",
    "events_lorenz_gini",
    "abc_classification_suppliers",
    "corr_spearman_price_demand",
    "assemble_behavioral_dataset",
    # round-10 third wave (D243-D254)
    "contingency_chi_square",
    "psi_value_drift",
    "graph_label_propagation",
    "mutual_information_source_lang",
    "text_readability_scores",
    "embedding_hygiene_audit",
    "events_shapley_attribution",
    "events_holt_winters",
    "text_kn_bigram_score",
    "customer_brand_hhi",
    "assemble_training_set_v7",
    "graph_kcore_membership",
    "source_template_prefixes",
    "vocab_growth_curve",
    "source_dup_rates",
    "events_max_drawdown",
    "search_ndcg",
    "events_conversion_lag",
    "events_watermark_audit",
    "simpson_paradox_audit",
    "classifier_auc_activity",
    "classifier_lift_deciles",
    "events_km_survival",
    "events_tail_index_hill",
    "events_cross_correlation",
    "search_rm3_expansion",
    "forecast_backtest_mase",
    "calibration_isotonic",
    "clustering_silhouette",
    "abtest_cmh_pooled",
    "ivf_nprobe_recall_curve",
    "join_size_preflight",
    "events_burst_detection",
    "abtest_bh_fdr",
    "abtest_report_card",
    "embedding_geometric_median",
    "text_keyness_g2",
    "text_textrank_summary",
    # round-11 additions. lsh_width_ladder_sampled (D285) is the
    # sampled-truth twin built to give the ladder family the decade
    # row the exact D221 deliberately lacks: its truth GEMM runs on
    # the AUTO-RATE vector sample (~2048 vectors at any N since the
    # round-12 re-pin, VERDICT r11 task 3), while the candidate
    # counts stay exact at full N.
    "lsh_width_ladder_sampled",
    "dedup_semantic_recall_cert",
    "assemble_training_set_v8",
    "join_order_advisor",
    "join_preflight_sketch_audit",
    "partition_layout_advisor",
    "graph_clustering_coefficient",
    "search_query_likelihood",
    "conformal_value_intervals",
    "source_zipf_slope",
    # round-12 additions (correctness_trend_report is omitted: its
    # corpus is the repo's own artifact ledger, invariant across SFs)
    "text_tfidf_cosine_pairs_lsh",
    "graph_betweenness_sampled",
    "similarity_topk_mips",
    "graph_hits_bipartite",
    # round-13 additions (bench_trend_report is omitted: artifact-ledger
    # corpus, invariant across SFs — the D298 rule)
    "pagerank_personalized_seeded",
    "gdpr_delete_audit",
    # D308 (D307 is sf-invariant design math — the D298 rule)
    "assemble_preference_pairs",
]
SF1_REPS = 2

# Appended verbatim after the table on every regeneration.
FOOTNOTES = """
## Round-12 notes: the scale-safe re-pins measured

- **`lsh_width_ladder_sampled` (D285) re-pinned on the AUTO-RATE
  sample: 25.4×/decade → 6.43× (62.1 → 17.2 s at sf≈1)** per VERDICT
  r11 task 3. The truth GEMM is now ~constant (~2048 vectors at any
  N, the D286 threshold formula); the residual slope is the EXACT
  candidate-count stage itself — distinct-pair mass at the coarsest
  width is ~N²/2⁸ per table on this deliberately near-orthogonal
  fixture (random codes spread uniformly over 256 buckets), and that
  mass is the audit's measured OBJECT, not overhead: sampling it away
  would change what n_candidates means. On a real near-dup corpus
  buckets concentrate on duplicate families and the same plan is
  output-linear; the fixed-25% form survives only as documentation.
- **`text_tfidf_cosine_pairs_lsh` (D295): 3.77×/decade (5.4 → 20.3 s)
  vs the exact D226's 21.3×** — the registered TF-IDF cosine form no
  longer rides the Σdf² shared-term join (VERDICT r11 task 4):
  MinHash banding over the df-capped shingle space generates
  candidates (one map-side-combining groupBy for all 16 hashes, band
  self-join whose fan follows near-dup families), the exact integer
  dot verifies candidates only. Recall vs exact: 28/28, 25/25,
  137/140 — misses are J≈0.02 single-rare-shingle idf artifacts.
- **`graph_betweenness_sampled` (D296): 3.37×/decade (7.3 → 24.6 s)**
  — 2K simultaneous BFS frontiers, 4 bounded rounds, per-round
  localCheckpoint; growth is edge mass through the frontier⋈adjacency
  join (Jan-1-14 co-supply edges grow ~7× over the decade).
- **`dedup_semantic_recall_cert` (D286) re-times at 4.51×/decade
  after the integer-nb/saturation hardening (ADVICE r11)** — within
  noise of its round-11 4.69×; the arithmetic changes were
  exactness-only.

## Round-11 notes: audits join the decade, two retunes measured

- **`text_winnow_pairs` 9.04 → 3.89 s at sf0.1, decade 1.68× → 1.55×
  (6.04 s at sf≈1)** — the task-5 retune measured: the win was NOT
  the md5 bridge (A/B showed md5 ≈ integer hash once the integer form
  indexes a char-code array; the naive unrolled-substr form was
  O(len²) per doc — per-position substr is an O(j) UTF8 scan) but the
  frame-window rewrite of the 6× window-membership explode + partial
  agg. Outputs hash-equal at three SFs; injective hashing replaces
  the ~2⁻⁶⁰ collision argument with impossibility.
- **`itemcf_topk` 26.4 → 32.2 s at sf≈1 (4.15×/decade)** under the
  task-6 data-dependent whale cap (4× exact p90 basket size, floor
  8): the auto-cap ADMITS heavy-but-legitimate baskets the static
  ≤100 arbitrarily dropped on the growing-basket fixture (sf≈1 p90·4
  exceeds 100), so the +22% wall is evidence kept, not a regression —
  the cap now scales with the distribution instead of asserting 100
  is the knee. Outputs oracle-pinned at three SFs.
- **`lsh_width_ladder_sampled` (D285) carries the decade row D221
  lacks: 25.4×/decade (2.4 → 62 s) — the documented N²r² physics of
  a FIXED 25% sample rate**, i.e. the exposition form of the dial
  (the exact twin D221 at >25 min/20k vectors is why the row exists).
  The production form is D286's AUTO-RATE sample.
- **`dedup_semantic_recall_cert` (D286) is the round's measured
  catch-and-fix**: the first decade run recorded 331 s at sf≈1
  (153.9×/decade — a fixed 50% sample makes the truth GEMM N²r², and
  10k sampled vectors ran as ONE single-block task). The auto-rate
  fix (threshold hex = floor(min(1, 2048/N)·2³²) from each engine's
  own COUNT — the D206 pattern applied to the sampling dial) re-times
  at 19.7 s / 4.69×/decade, with the residual slope the LINEAR code
  and scan side; the truth GEMM is ~constant (~2048 vectors) at any
  corpus size. Outputs stay hash-pinned because the threshold is a
  pure integer function of COUNT on both engines.
- **The planning/ops audits measure as designed**: join_order_advisor
  2.46× (count-table partial aggs), join_preflight_sketch_audit 2.04×
  (two KB sketches + count tables), partition_layout_advisor 1.18×
  (one SUM per table at the scan), conformal 1.53×, query-likelihood
  1.57×, zipf slope 1.13×, clustering coefficient 2.8× (wedge mass),
  flagship v8 2.19× (sum of its linear gates).

## Round-10 third-wave notes: the decade reaches D243-D260

- **Every third-wave ratio is sublinear (≤ 4.4× per 10×).** The two
  largest have named linear causes: `customer_brand_hhi` 4.40×
  (1.6 → 7.0 s) rides 10× line items through two equi-joins — pure
  data mass, the (customer, brand) agg and top-1 window are bounded
  per key; `assemble_training_set_v7` 2.69× (5.0 → 13.5 s) is the sum
  of its linear sub-operators (KN scoring + readability + dedup) plus
  one global rank over survivors.
- **`graph_kcore_membership` 1.79× (5.2 → 9.3 s) verifies the
  localCheckpoint discipline**: each peel round fans the survivor set
  out three ways (two degree probes + the anti-join), so the
  untruncated plan grows 3^rounds and Catalyst planning dominated —
  measured 234 s raw, 39 s cached-but-unbroken, ~3 s per-round
  checkpointed at sf0.1. The sf≈1 growth that remains is the edge
  self-join's data mass.
- **Sufficient-statistics shapes measure flat, as designed**:
  chi-square 1.05×, hygiene audit 1.01× (payload never shuffles),
  Holt-Winters 1.02× (recursion on the bounded day grid), Shapley
  1.42× (corpus collapses to ≤16 masks), nDCG 1.20× (10 broadcast
  queries), drawdown 1.40×, PSI 1.22× (one global rank on the
  15%-mass reference window).

## Round-10 notes: the decade reaches D220-D240

- **`itemcf_topk` re-timed after the generate-once/mirror-once pair
  rewrite (round-10 task): 46.0 s → 26.4 s at sf≈1, 6.74× →
  3.31×/decade.** The remaining growth is co-purchase pair mass on a
  fixture whose baskets grow with SF — the documented physics; the
  ≤100-part whale cap and min-support-2 stay as the production guards.
- **`text_tfidf_cosine_pairs` was this round's genuine catch** (first
  decade measurement ran 25.5×): two levers landed. (1) Hashed join
  keys — carrying ~20-byte shingle strings through the Σdf² join +
  pair groupBy was shuffle WIDTH, not row count (176 s → 113 s; the
  D109 "hashed shingles end-to-end" lesson re-learned on the weighted
  join). (2) A Bayardo/AllPairs prefix filter was built and measured
  — it pruned candidates only 2.4× here (79M → 32M) while adding two
  shuffles, because on this CLOSED-vocabulary fixture (27k trigram
  types over 30M tokens) weight mass is spread nearly uniformly, so
  the suffix bound crosses τ late; it was REVERTED in favor of the
  documented physics: candidates are Σdf² = 79M pairs collapsing to
  20.8k outputs, quadratic BY FIXTURE CONSTRUCTION since df ∝ n when
  the vocabulary is closed. On an open shingle space df is bounded by
  the dup-family size (linear); when a real corpus's shingle space
  closes, the scale path is MinHash/sign-LSH candidacy (C2/D206) with
  this operator's exact integer dot as the verify stage — both already
  in the engine.
- **`lsh_width_ladder` is deliberately absent from the sf≈1 list**:
  its ground-truth stage is an exact all-pairs fold-cosine check BY
  DESIGN (that is what grades the ladder's recall), observed >25 min
  in one reduction task at 20k vectors; the docstring already mandates
  sampling the truth set at production scale, and the serving-path
  family member in the decade is dedup_embedding_clusters_lsh_auto.
- Every other round-10 ratio is sublinear (≤ 7.3× per 10×): the
  concurrency sweep (6.1×) pays the within-day sort on 10× sessions
  over the same 30 fixture days; RAKE (7.3×) grows with distinct
  phrase mass on marker-perturbed copies; bot scores (5.0×) and the
  bootstrap (4.2×) are user-keyed partial aggs riding 10× users.

## Round-7 continuation notes: the decade reaches D185-D205

- **`mutual_knn_pairs` was the continuation's genuine catch**: the
  D34 kNN composition rode `knn_join`'s interpreted per-pair fold —
  with 10 label blocks growing 10x on the sf~1 fixture the block^2
  FLOPs ran on few tasks, measured **24.6x/decade** (0.90 s ->
  22.2 s). Fix (`operators/similarity.py:knn_join_gemm`): the round-6
  grid decomposition applied to TOP-K — per (block, sub-bucket pair)
  group one float64 numpy matmul, per-row over-collect within 1e-12
  of the group-local k-th GEMM score (float64 BLAS vs fold drift is
  ~dim*2^-53, so the collect strictly covers the fold ranking), exact
  fold re-score + one per-id window decide everything. Re-measured
  **3.2x/decade** (1.85 s -> 5.91 s), outputs BIT-IDENTICAL to the
  fold join (pinned in tests/test_similarity.py) and both dependent
  queries hash-green at three SFs. `knn_join_label` (D34) switched to
  the same path.
- **`dedup_containment_pairs` 11.33x/decade is OUTPUT growth, not a
  candidate blow-up**: emitted pairs grow 512 -> 5660 (11.05x) on the
  sf~1 fixture — the key-shifted copies genuinely contain each other
  (the fixture's marker tokens cap Jaccard, not containment), so the
  wall tracks true duplication mass linearly. The prefix+positional
  filters hold; no plan change.
- **Everything else in D185-D205 is sub-linear-to-linear**: Welch
  0.97x, CMS 1.5x, fertility 2.0x, basket rules 9.5x (pair counting
  ~ linear in baskets), JL 0.86x, CUSUM 0.91x, skyline 1.9x,
  Stupid-Backoff LM 2.2x, RFM 1.2x, path mining 6.2x (sessions grow
  10x), MMR 1.1x, pHash dedup 1.5x, log-mel 1.0x.

## Round-7 notes: the decade reaches the round-6/7 families

- **`weighted_median_price` was the round's genuine catch**: the first
  cut rode the cumulative-weight window over RAW rows with
  partitionBy(l_returnflag) — 3 groups ⇒ the window sort serialized on
  3 tasks, measured **6.66×/decade** (1.51 s → 10.0 s). Fix: collapse
  to DISTINCT (group, cents) cells with a partial-agg weight sum
  FIRST, window only the cell table — per-group sort is bounded by the
  value domain (≤10⁷ cents), not the row count. Re-measured
  **1.48×/decade** (2.9 s → 4.3 s, fresh-session protocol), outputs
  hash-equal at all three SFs, planted fixtures green.
- **`dedup_embedding_clusters_lsh` 20.7×/decade is the documented
  fixed-bits physics, now measured**: candidates ∝ N²/2^bits at fixed
  (32 tables × 8 bits) — the registered query pins bits for oracle
  replay. The production lever the SCALE.md §semantic-dedup section
  prescribes (bits grow with log N to hold bucket sizes constant) was
  measured directly at sf≈1, threshold 0.9: **8 bits 62.8 s → 10 bits
  17.5 s → 12 bits 8.5 s** (recall at 0.9 with 32×12 ≈ 0.996 by the
  p=cos-collision model). Also note the 0.3-threshold regime the
  registered query runs is the documented cannot-prune case — its
  decade ratio measures candidate mass, not plan quality.
- **`dedup_embedding_clusters` ratio moved 5.7× → 10.6× ONLY via the
  sf0.1 constant** (1.73 → 1.02 s; sf≈1 9.84 → 10.76 s, ≈ run noise):
  the round-7 margin/self-pair changes did not alter the plan; the
  grid-decomposed GEMM's inherent FLOPs-quadratic at threshold 0.3 is
  unchanged and documented.
- **Everything else in the new families is sub-linear-to-linear per
  decade**: RRF 1.9×, overlap matrix 4.4× (pair mass ∝ duplication),
  span corruption 1.5×, water-filling 1.1×, OHLC 4.3×, CCNet terciles
  1.8×, mojibake 1.3×, Matryoshka 1.1×, flagship v5 1.6×, phrase
  search 1.6×, rolling HLL 3.1× (bounded 7× replication), attribution
  2.3×, centroids 1.6×, PMI 1.8×.

## Round-6 notes: the extended sf≈1 decade

- **`dedup_embedding_clusters` was this round's genuine catch — twice.**
  The round-6 GEMM rewrite fixed the sf0.1 constant (22.7 s → 0.9 s), but
  the FIRST sf≈1 run measured **42.7×/decade** (0.89 s → 37.9 s): the sf≈1
  fixture keeps 10 labels, so blocks grow 10× and the per-block GEMM is
  FLOPs-quadratic — and with only 10 label groups, 22 of 32 cores sat idle
  while each task materialized a block² cosine matrix + triu index arrays
  (~6.5 GB at a 20k-row block). Fix (`similarity.cosine_pairs_gemm`): grid
  decomposition — each vector lands in xxhash64(id) mod 4 sub-buckets and
  every unordered sub-bucket pair is one pandas group, so memory is
  group-bounded, a block parallelizes across grid·(grid+1)/2 tasks, and the
  prefilter GEMM runs in float32 (margin 1e-4 ≫ the <1e-5 float32 error on
  unit vectors; the float64 fold verify still decides every pair — outputs
  hash-EQUAL at all three SFs, re-verified). Re-measured (same min-over-3
  warm protocol): sf0.1 1.73 s, sf≈1 9.84 s ⇒ **5.7×/decade**. The residual
  growth is the inherent FLOPs-quadratic of EXACT near-orthogonal-threshold
  clustering (see SCALE.md §semantic-dedup physics — no bucketing scheme
  can prune at cos 0.3); at production thresholds (≥0.85) the LSH variant
  (D165) is the near-linear path.
- **Round-5 families measured for the first time at sf≈1**: IVF→PQ 1.32×,
  SQ8 1.00× (broadcast-probe paths — corpus-scan-bound exactly as
  designed), ExactSubstr 2.61×, TWAP 4.61×, leakage-safe split 3.42×,
  novelty 3.42× — all sub-linear-to-linear per decade.
- **MR-compat facade overhead bounded (VERDICT r5 task 8)**: at sf≈1,
  `word_count_mr` 2.00 s vs native `word_count` 0.41 s (≈4.9×) and
  `inverted_index_mr` 1.13 s vs native 1.51 s (≈0.75× — the facade's
  pre-tokenized shuffle actually wins there); the Arrow-UDF tax is a
  constant factor on the map stage, not a scaling slope. Documented in
  SCALE.md.

## Round-5 notes: the sf≈1 decade

- **`dedup_jaccard_prefix_filter` was the one genuine superlinear
  plan** the new decade exposed: 13.1× per 10× step before the fix —
  prefix-token document frequencies grow with the corpus, so AllPairs
  candidates grew ~df² (measured 46k → 5.0M raw candidate-join rows on
  the 10× corpus). Fixed twice over (`operators/dedup.py`): (1) the
  exact PPJoin POSITIONAL filter — overlap through a matched prefix
  row is bounded by 1 + min(sa−pa, sb−pb), rows below the required
  ceil(t(sa+sb)/(1+t)) pruned pre-shuffle (raw rows 5.0M → 1.85M);
  (2) shingles travel as 8-byte xxhash64 values end to end, so both
  window shuffles, the candidate join key and the verify-stage
  array_intersect run on bigints (verify 10.7 → ~3 s on 1.1M
  candidates). Verified output unchanged (equivalence-to-quadratic +
  oracles green at three SFs). sf≈1 wall 20.1 s → 10.2 s, min-over-3
  warm ratio 6.7× per decade — the table row carries the post-fix
  retiming.
- **`dedup_duplicate_spans`, the round-4 suspect (5.2× on 0.01→0.1),
  is resolved**: at the decade that matters it grows 2.4× per 10× —
  the earlier ratio was overhead amortization, not superlinearity.
- **`cogroup_view_purchase_pairs` at ~6-10× (run-to-run 6.0×/9.6×
  across two quiet-machine sessions)** is the cogrouped-pandas per-key
  overhead paying out over 10× more keys — the documented
  capability-demo query whose scale path is the declarative
  `interval_join` twin (see SCALE.md §skew); kept as-is by design.
"""


def render_rows(results: dict[str, dict[str, float]]) -> list[str]:
    """Markdown table rows for whatever was actually measured.

    Regression shape (round-5 ADVICE): SF1-only names with NO
    measurements (``.sf1/`` absent) must render as all-dash rows, not
    raise KeyError after the full timing run."""
    lines: list[str] = []
    for name in [*QUERIES, *[q for q in SF1_QUERIES if q not in QUERIES]]:
        r = results.get(name)
        if r is None:
            # SF1-only query with no .sf1/ fixture present — nothing measured.
            lines.append(f"| {name} | — | — | — | — | — | — |")
            continue
        ratio = (
            f"{r['0.1'] / r['0.01']:.2f}×"
            if r.get("0.01") and r.get("0.1")
            else "—"
        )
        s1 = f"{r['1']}" if "1" in r else "—"
        r1 = f"{r['1'] / r['0.1']:.2f}×" if "1" in r and r.get("0.1") else "—"
        lines.append(
            f"| {name} | {r.get('0.001', '—')} | {r.get('0.01', '—')} | "
            f"{r.get('0.1', '—')} | {ratio} | {s1} | {r1} |"
        )
    return lines


def main() -> None:
    from mapreduce_project_spark.plans.inspect import run_noop
    from mapreduce_project_spark.queries_registry import ALL_QUERIES as registry
    from mapreduce_project_spark.session import get_spark

    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    # generic warmup
    spark.range(10000).selectExpr("sum(id)").collect()

    def timed(name: str, sf_dir: str, reps: int) -> float:
        return min(
            run_noop(lambda: registry[name](spark, sf_dir))["sec"] for _ in range(reps)
        )

    # Resume cache: a multi-hour timing run must survive an interrupt
    # (round-10 lesson: one pathological sf1 query stalled the whole
    # regeneration). Every measurement lands in .scaling_cache.json
    # immediately and is skipped on re-run; DELETE the file to force a
    # fresh full timing pass.
    import json

    cache_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scaling_cache.json",
    )
    results: dict[str, dict[str, float]] = {}
    if os.path.exists(cache_path):
        results = json.load(open(cache_path, encoding="utf-8"))
        n_cached = sum(len(v) for v in results.values())
        print(f"resume: {n_cached} cached measurements from {cache_path}")

    def save_cache() -> None:
        with open(cache_path, "w", encoding="utf-8") as fh:
            json.dump(results, fh, indent=1)

    for name in QUERIES:
        results.setdefault(name, {})
        for sf in SFS:
            if sf in results[name]:
                continue
            results[name][sf] = timed(name, f"/root/testdata/sf{sf}", REPS)
            save_cache()
            print(f"{name} sf{sf}: {results[name][sf]:.2f}s", flush=True)

    have_sf1 = os.path.isdir(SF1_DIR)
    if have_sf1:
        for name in SF1_QUERIES:
            results.setdefault(name, {})
            if "0.1" not in results[name]:
                results[name]["0.1"] = timed(name, "/root/testdata/sf0.1", REPS)
                save_cache()
                print(f"{name} sf0.1: {results[name]['0.1']:.2f}s", flush=True)
            if "1" not in results[name]:
                results[name]["1"] = timed(name, SF1_DIR, SF1_REPS)
                save_cache()
                print(f"{name} sf1: {results[name]['1']:.2f}s", flush=True)
    else:
        print("no .sf1 fixtures (scripts/make_sf1.py) — skipping the sf1 decade")

    lines = [
        "# SCALING — measured per-query cost across 10× data steps",
        "",
        "Generated by `scripts/scaling_curve.py` (local[32], min over "
        f"{REPS} warm reps, noop sink). Interpretation: the sf0.01→sf0.1 "
        "ratio approximates data-dependent cost growth once per-job "
        "overhead amortizes — ~1 ⇒ overhead-bound at test scale, ~10 ⇒ "
        "linear in data (expected for scan-bound plans), >10 ⇒ "
        "superlinear (investigate before 100×). The expensive tail "
        "carries one more measured decade: sf≈1 = the deterministic "
        "key-shifted 10× self-union of sf0.1 (`scripts/make_sf1.py` — "
        "shifted ids, marker-perturbed texts, jittered embeddings, so "
        "dup-rates and join selectivities scale like a real 10× SF).",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | 0.01→0.1 ratio | sf≈1 s | 0.1→1 ratio |",
        "|---|---|---|---|---|---|---|",
    ]
    lines.extend(render_rows(results))
    with open(os.path.join(os.path.dirname(__file__), "..", "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n" + FOOTNOTES)
    print("wrote SCALING.md")
    spark.stop()


if __name__ == "__main__":
    main()
