"""Plan-shape audit across the whole query catalog.

Sweeps every `__spark_entry__.queries()` entry, inspects the optimized and
executed plans, and flags scale red-flags that correctness tests can't see:

  - BIG_FILTER:   a Filter condition > --filter-chars characters (alias
                  substitution has inlined an expensive expression chain —
                  the pushdown blowup documented in SCALE.md)
  - MANY_REGEX:   > --regex-max regexp calls in one plan (duplicated parse)
  - CARTESIAN:    CartesianProduct / BroadcastNestedLoopJoin in the physical
                  plan (accidental cross join)
  - MANY_EXCH:    more than --exchange-max physical Exchanges (shuffle chain
                  that likely collapses at scale)
  - STATS_BLOWUP: the optimized plan's estimated sizeInBytes exceeds
                  --stats-bits-max BITS (default 256 — ~1e77 bytes, far
                  beyond any physical estimate).  This is the Spark 4.x
                  localCheckpoint stats-compounding pathology promoted to
                  a gate (VERDICT r13 #2, SCALE.md §stats-compounding): a
                  recursing frame feeding >2 join branches per round
                  without a stats cut multiplies its carried size
                  estimate round over round, the bit-length grows
                  exponentially, and every stats walk pins the driver in
                  BigInteger.multiply.  Any loop operator that violates
                  the ">2 join branches per round => parquet stats cut"
                  rule surfaces here through its returned frame; the
                  synthetic violator is pinned in
                  tests/test_stats_compounding.py.

Usage: python tools/audit_plans.py [--sf-dir DIR] [query ...]
Exit code 1 if any red flag fires (so it can gate CI).
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries whose physical plan legitimately trips a generic bound, with the
# reason recorded so waivers stay auditable.
WAIVERS: dict[str, set[str]] = {
    # the 4-row n-frame × ONE-row corpus length-sums frame (Σ|cand|,
    # Σ|ref| — the brevity-penalty parts, constant columns by design):
    # the sanctioned 1-row stats-frame cross-join pattern
    # (eval_kendall_tau_bucketed precedent); nothing corpus-sized
    # enters it.  The IVM twin folds parquet state instead and is clean.
    "eval_bleu_parts": {"CARTESIAN"},
    # the |days|-row daily frame × the 7-row lag dim (the bounded-dim
    # broadcast pattern, eval_kendall_tau_full's y-grid precedent);
    # the lag pairing itself is a keyed date-arithmetic equi-join.
    "temporal_acf_profile": {"CARTESIAN"},
    # the vocabulary-grain word-stats frame × the ONE-row n1/n2 census
    # (the sanctioned 1-row stats-frame pattern).
    "text_kneser_ney_counts": {"CARTESIAN"},
    # same shape through the shared face: census state × 1-row n1/n2.
    "stream_kneser_ney_maintain": {"CARTESIAN"},
    # the support-census ECDF × the 1-row (n0, n1) totals frame — the
    # batch row eval_ks_two_sample's own waived shape through the
    # IVM face.
    "stream_ks_maintain": {"CARTESIAN"},
    # the ~20-row count-of-counts frame × the ONE-row totals frame (the
    # sanctioned 1-row stats-frame pattern).
    "text_good_turing_counts": {"CARTESIAN"},
    # the all-pairs concordant/discordant census on the contract-BOUNDED
    # eval slice (custkey < 200 -> ~200 per-customer rows): the
    # inequality self-join ca < cb is the operator's documented O(slice²)
    # gate tier (docstring names inversion counting as the production
    # path); landed in r8's final commit after that round's audit ran.
    "eval_kendall_tau": {"CARTESIAN"},
    # the production-path twin: its only cross join is the y grid ×
    # |x-values| dim broadcast (guard-bounded ≤ 200 values — the
    # operator's documented O(|x-values|·n) expansion, NOT an all-pairs
    # join; the plan test pins CartesianProduct absent), and its 13
    # exchanges are the five keyed stages (per-customer agg, (x,y)
    # census, grid fill, two partitioned window passes, point join) —
    # all keyed, none single-partition, ReusedExchange dedupes the
    # repeated per-customer agg subtree.
    "eval_kendall_tau_full": {"CARTESIAN", "MANY_EXCH"},
    # the guard-named fallback twin: its cross joins are the y grid ×
    # bucket dim broadcast (guard-bounded ≤ 512 buckets — the documented
    # O(B·n) expansion) and the 1-row cross-census × 1-row strip-census
    # combine (the sanctioned 1-row stats-frame pattern); the 16
    # exchanges are the same five keyed stages as the full path plus the
    # bucket-partitioned strip join and the two bounded-dim census
    # frames — all keyed or bounded-dim, none corpus-single-partition.
    "eval_kendall_tau_bucketed": {"CARTESIAN", "MANY_EXCH"},
    # the θ-join m <= d against the 10-row hardcoded weight dim is a
    # BroadcastNestedLoopJoin by construction (constant ×10 fanout of
    # top-10 rows only — the spatial-grid 9-row offset-frame waiver
    # pattern); nothing corpus-sized enters it.
    "eval_rank_biased_overlap": {"CARTESIAN"},
    # the LCA gate tier runs the graph_dag_depth closure (6 path-doubling
    # rounds behind localCheckpoint) plus the ancestor-or-self de-dup,
    # pair thinning, two anc joins, the two-step LCA argmax, and three
    # depth joins — all keyed exchanges over the contract-BOUNDED 60-node
    # slice; production is the dag_depth_frontier bitmap AND, which has
    # none of these joins.
    "graph_dag_lca_similarity": {"MANY_EXCH"},
    # the only cross join is broadcast-of-1-row total-tokens frame onto
    # the |strata|-row dim (the sanctioned 1-row stats-frame pattern,
    # operators/training.py:418 precedent).
    "sample_allocation_largest_remainder": {"CARTESIAN"},
    # embeds the registered graph_scc (one source of truth for the
    # labeling): its mutual-reachability join + node/edge distincts plus
    # the condensation's two label joins and final distinct are all keyed
    # exchanges over the contract-BOUNDED 60-node slice (the closure
    # rounds themselves are behind localCheckpoint and don't replan).
    "graph_condensation": {"MANY_EXCH"},
    # the run under evaluation is the brute-force exact rung (the
    # similarity_topk |Q|-broadcast waiver); the coverage scalar (ONE
    # row) is cross-joined back onto the 10 per-query rows.
    "eval_reco_diversity": {"CARTESIAN"},
    # the 9-row (dx, dy) neighbor-offset frame is cross-joined onto the
    # point side (constant x9 fanout); the candidate join itself is the
    # (cell_x, cell_y) equi-join — the whole point of the operator.
    "join_spatial_grid": {"CARTESIAN"},
    # the 1-row grand-mean frame is cross-joined onto the observations
    # (a scalar broadcast, the text_collocations_pmi pattern).
    "eval_regression_metrics": {"CARTESIAN"},
    # the 1-row max-rate frame is cross-joined onto the |groups|-row
    # per-group frame (scalar broadcast).
    "quality_parity_audit": {"CARTESIAN"},
    # the 32-row replicate-id frame is cross-joined onto the per-user
    # aggregate (constant x32 fanout of an already-reduced frame) — the
    # sample_bootstrap_poisson shape lifted to CI assembly.
    "eval_bootstrap_ci": {"CARTESIAN"},
    # the 1-row (n0, n1) totals frame is cross-joined onto the distinct
    # support (scalar broadcast).
    "eval_ks_two_sample": {"CARTESIAN"},
    # the 1-row (n, pos) totals frame and the 4-row pct dim are
    # cross-joined onto the ranked orders (scalar broadcast + constant x4
    # fanout — the eval_bootstrap_ci replicate-dim pattern); the rank
    # itself is the audited global-window shape.
    "eval_lift_at_k": {"CARTESIAN"},
    # the 1-row (n_tot, null_tot) totals frame is cross-joined onto the
    # 24-row per-hour frame (scalar broadcast).
    "quality_seasonal_null_audit": {"CARTESIAN"},
    # the comparable-pairs census is an inequality self-join on the
    # contract-BOUNDED eval slice (custkey < 200 — the eval_kendall_tau
    # O(slice^2) gate-tier waiver; docstring names the dominance-counting
    # sweep as the production path).
    "eval_cindex": {"CARTESIAN"},
    # the production twin: its only cross joins are the strict t_small <
    # t_big combo dim (tenure axis — tens of distinct order counts, a
    # <= T^2 CONSTANT dim broadcast onto the event side: the documented
    # O(|t-values|*n) expansion, same waiver as eval_kendall_tau_full's y
    # grid) and the 1-row census x 1-row comparability-mass combine (the
    # sanctioned 1-row stats-frame pattern); the 16 exchanges are the
    # keyed stages (entity agg reused thrice via ReusedExchange, (t,s)
    # grids, the t_big-PARTITIONED CDF window, two T-row bounded-dim
    # frames) — none corpus-single-partition.
    "eval_cindex_full": {"CARTESIAN", "MANY_EXCH"},
    # the 3-row k-threshold dim is cross-joined onto the ALREADY-REDUCED
    # quasi-identifier class table (constant x3 fanout of a dim-sized
    # frame — the eval_bootstrap_ci replicate-dim pattern); the corpus
    # itself sees only one hash aggregate.
    "quality_k_anonymity": {"CARTESIAN"},
    # the 1-row (n, pos) totals frame is cross-joined onto the |bins|-row
    # forecast-value census (scalar broadcast, the eval_ks_two_sample
    # pattern); the corpus sees one projection + one hash aggregate.
    "eval_brier_decomposition": {"CARTESIAN"},
    # the probe IS a brute-force top-1 similarity run over the 200-row
    # gate slice (the similarity_topk |Q|-broadcast waiver); production
    # routes through the audited ANN rungs.
    "eval_knn_probe": {"CARTESIAN"},
    # the 16x64 ±1 sign matrix is built as range(16) x range(64) — a
    # 1024-row CONSTANT cross join (then broadcast onto the corpus);
    # the audit's distance joins are keyed equi-joins.
    "embedding_jl_recall": {"CARTESIAN"},
    # the run under evaluation is the brute-force exact rung (the
    # similarity_topk |Q|-broadcast waiver); the NDCG layer on top is two
    # broadcast dims + one per-query agg, no data-scale cross product.
    "eval_ranking_ndcg": {"CARTESIAN"},
    # the dense run broadcasts the ONE-vector query side (similarity_topk
    # pattern); the BM25 side cross-joins its 1-row totals frame (the
    # text_collocations_pmi scalar-join pattern).  Fusion itself is a
    # full-outer join of two top-k frames.
    "similarity_rrf_fusion": {"CARTESIAN"},
    # the θ/Δ assembly joins the 1-row pooled-moments frame to the 1-row
    # arms frame — a scalar×scalar cross join by construction.
    "eval_ab_cuped": {"CARTESIAN"},
    # relational expression of CDC chunking for the exact gate: the
    # exchange chain carries (id, 16-byte hash) or (id, position-long)
    # rows only — payload bytes never shuffle — and most hops share the
    # doc_id key; the production shape replaces the whole chunking stage
    # with one mapInPandas pass (SCALE.md §frontier4), leaving the census
    # join + jaccard refine (3 exchanges).
    "multimodal_cdc_chunks": {"MANY_EXCH"},
    # (round 11) the capped twin inherits the relational gate-tier chunking
    # chain above and ADDS the (ch)-grain frequency agg + filter — one more
    # keyed exchange over (id, 16-byte hash) rows; every hop is keyed,
    # payload bytes never shuffle, and the production shape is the same
    # mapInPandas chunker + census join + freq filter (4 exchanges).
    "cdc_chunks_capped": {"MANY_EXCH"},
    # routed MaxSim broadcasts the n_cells-row seed-summary table for
    # assignment (the IVF waiver pattern); candidates and scoring are
    # keyed equi-joins — no data-scale cross product.
    "similarity_maxsim_routed": {"CARTESIAN"},
    # the 1-row logged-total frame is cross-joined onto the matched rows
    # (scalar broadcast — the eval_ks_two_sample pattern).
    "eval_snips_offpolicy": {"CARTESIAN"},
    # the 1-row exact-audit frame is cross-joined onto the 1-row sketch
    # frame (the sketch_kmv_intersection pattern — both sides single-row
    # by construction).
    "sketch_kmv_difference": {"CARTESIAN"},
    # the 3-row rater dim is cross-joined onto the unit slice (constant
    # ×R fanout, the eval_bootstrap_ci replicate-dim pattern) and the two
    # 1-row D_o/D_e combines are the sanctioned 1-row stats-frame shape.
    "eval_krippendorff_alpha": {"CARTESIAN"},
    # the 1-row edge-count frame (m) broadcasts onto the candidate gains
    # (scalar broadcast); the 15 exchanges are keyed stages over the
    # bounded co-purchase slice — edge census, degree agg (reused thrice
    # via ReusedExchange), per-node argmax window, final assignment join
    # — none corpus-single-partition.
    "graph_louvain_move": {"CARTESIAN", "MANY_EXCH"},
    # the full-Louvain extension of the row above: the same 1-row
    # edge-count broadcast per round (scalar m onto the candidate
    # gains), 4 rounds + coarsening — every non-scalar join is keyed
    # (census, sig, argmax windows, label update), localCheckpoint per
    # round keeps the exchange count per stage bounded.
    "graph_louvain_rounds": {"CARTESIAN", "MANY_EXCH"},
    # the two-level extension: same per-round scalar-m broadcast, plus the
    # weighted level-2 rounds on the coarsened supergraph.
    "graph_louvain_two_level": {"CARTESIAN", "MANY_EXCH"},
    # full core decomposition: the final level's 3 peel rounds (degree
    # agg + double semi-join each) plus the per-level removed-set
    # anti-join and the survivor distinct all live in ONE plan (earlier
    # levels are behind per-level stats-cut checkpoints) — 17 keyed
    # exchanges over the shrinking live edge list, none
    # corpus-single-partition.
    "graph_coreness_bounded": {"MANY_EXCH"},
    # the Pettitt pair frame is the |days|² inequality self-join on the
    # CALENDAR-BOUNDED daily series (~133k pairs for a year — the
    # eval_kendall_tau O(slice²) waiver applied to day grain; the event
    # stream itself reduces to days in one hash agg first).
    "temporal_changepoint_pettitt": {"CARTESIAN"},
    # the 1-row corpus-size frame is cross-joined onto the (tiny)
    # boilerplate report (the sanctioned 1-row stats-frame pattern).
    "text_boilerplate_census": {"CARTESIAN"},
    # the routed radius rung: its cross joins are the n_cells=4-row seed
    # frame (md5_seed_cells) broadcast onto the corpus/query sides for
    # exact-L2 assignment (nearest_cells) — candidates themselves come
    # from the (cell) equi-join, never all-pairs.
    "similarity_range_search_routed": {"CARTESIAN"},
    # the df-capped weighted-Jaccard refine unions the pair face with the
    # corpus-level audit row, so the census subtree appears twice (audit's
    # two-level countDistinct adds its own partials); every exchange is
    # keyed ((id,sh) census, sh window + sh equi-join, id totals, (a,b)
    # agg) — none corpus-single-partition, per-key fanout capped at 16.
    "dedup_minhash_weighted_capped": {"MANY_EXCH"},
    # the cogrouped-vectorized twin routes through the same seed broadcast
    # (md5_seed_cells + nearest_cells, via maxsim_route_cells); scoring is
    # routed_topk's cell-keyed cogroup — no data-scale cross product.
    "similarity_maxsim_routed_vec": {"CARTESIAN"},
    # the recall audit runs BOTH the brute baseline (broadcast query
    # tokens, the similarity_maxsim waiver) and the routed chain (seed
    # broadcast) plus the full-outer overlap rollup — the exchange count
    # is the sum of two already-audited paths over KB-scale frames, not
    # extra data movement per row.
    "similarity_maxsim_recall": {"CARTESIAN", "MANY_EXCH"},
    # trained-A/B twin of the recall audit: adds the k-means training
    # loop's centroid broadcasts (bounded by k, the kmeans waiver) on top
    # of the brute + routed chains — same two-audited-paths composition.
    "similarity_maxsim_trained_recall": {"CARTESIAN", "MANY_EXCH"},
    # PMI scoring broadcasts the ONE-ROW bigram-total frame against the
    # (already aggregated) bigram table — a scalar join, not a cross
    # product of data-scale sides.
    "text_collocations_pmi": {"CARTESIAN"},
    # brute-force rung of the multi-vector ladder: the query TOKEN frame
    # (|Q| docs x 8 tokens, |Q| small by contract) broadcasts against the
    # corpus token frame — the similarity_topk pattern at token grain;
    # the scale rung routes per-doc centroids through IVF first.
    "similarity_maxsim": {"CARTESIAN"},
    # truncation audit runs TWO exact ground-truth scans (full-width and
    # half-width) with the 20-query side broadcast by design — the
    # similarity_ann_recall waiver pattern, twice.
    "embedding_mrl_recall": {"CARTESIAN"},
    # IVF training intentionally cross-joins a tiny (n_cells × dim) centroid
    # table against itself during Lloyd iterations; bounded by n_cells.
    "similarity_ann_ivf": {"CARTESIAN"},
    # same probe-assignment broadcast (k-row centroid table vs the query
    # batch, bounded by k); the serving join itself is the cell-keyed
    # cogroup — no data-scale cross product.
    "similarity_ann_ivf_routed": {"CARTESIAN"},
    # IVF-PQ probe assignment broadcasts the 8-row centroid table (bounded
    # by n_cells); ADC scoring itself is (sub, code) equi-joins.
    "similarity_ivf_pq": {"CARTESIAN"},
    # the recall gate's exact-L2 ground truth broadcasts the 8-query side
    # by design (|Q| small), same pattern as similarity_ann_recall.
    "similarity_pq_recall": {"CARTESIAN"},
    # brute Hamming scan broadcasts the packed query words (|Q| small),
    # the similarity_topk pattern at 1/32 the bytes per row.
    "similarity_hamming_topk": {"CARTESIAN"},
    # the rerank variant's shortlist stage is the same broadcast scan;
    # the rerank stage itself is keyed joins on (t_id, q_id).
    "similarity_hamming_rerank": {"CARTESIAN"},
    # brute-force baseline: query side is broadcast by design (|Q| small);
    # Spark plans broadcast NL join for the explicit crossJoin.
    "similarity_topk": {"CARTESIAN"},
    # the recall gate runs the SAME brute-force baseline as ground truth
    # against the IVF path — its cross join is the thing being compared,
    # |Q|=10 broadcast by design.
    "similarity_ann_recall": {"CARTESIAN"},
    # k-means assignment broadcasts the k-row centroid table against the
    # corpus (bounded by k, the IVF/kmeans waiver pattern); the near-dup
    # pair join itself is a cell equi-join, not a cross product.
    "dedup_embedding_clustered": {"CARTESIAN"},
    "dedup_embedding_cosine": {"CARTESIAN"},
    # the reporting query combines two single-row count aggregates with a
    # 1x1 crossJoin; the pipeline itself has no cross product. Exchange
    # count is ~2x a single build because the query IS two full builds.
    "pipeline_two_pass": {"CARTESIAN", "MANY_EXCH"},
    # the reporting query joins two SINGLE-ROW aggregates (n_edges ×
    # n_triangles) with a 1x1 crossJoin; the counting pipeline itself is
    # checkpoint-bounded hash joins (see plans/graph_query.py).
    "graph_triangle_count": {"CARTESIAN"},
    # corpus statistics (N, L) are ONE broadcast row attached to every
    # posting via an explicit 1-row crossJoin (search/ranking.py); the
    # scoring joins themselves are keyed equi-joins.
    "text_bm25_topk": {"CARTESIAN"},
    # k-means assignment scores every vector against the broadcast k-row
    # centroid table (operators/clustering.py) — fan-out bounded by k, the
    # same shape as the waived brute-force similarity baselines.
    "cluster_kmeans": {"CARTESIAN"},
    # same broadcast-k centroid scoring inside both the k-means trainer and
    # the IVF cell-assignment it feeds; all corpus-scale joins are keyed.
    "similarity_ann_ivf_kmeans": {"CARTESIAN"},
    # the Bloom filter is ONE broadcast row (map of words) attached to the
    # big side via crossJoin so the bit tests fold into the broadcast NL
    # join's condition — the big side never shuffles, which is the point
    # (operators/sketches.py bloom_prefilter; pinned by
    # tests/test_sketches.py::test_bloom_filter_runs_before_any_exchange).
    "join_bloom_prefilter": {"CARTESIAN"},
    # same 1-row broadcast bloom-words crossJoin as join_bloom_prefilter
    # (bloom_mark variant); the dup-check join itself is a keyed equi-join.
    "dedup_bloom_screen": {"CARTESIAN"},
    # (round 6) the global MIN of the per-source counts is ONE broadcast
    # row crossJoined onto the #sources-row dim table (KB-scale both
    # sides); the corpus-scale join is a keyed broadcast equi-join on
    # source and the corpus itself never shuffles.
    "sample_source_sqrt": {"CARTESIAN"},
    # (round 6) the recall gate's exact-cosine ground truth broadcasts the
    # 8-query side by design — the similarity_pq_recall/similarity_
    # ann_recall waiver pattern; the Hamming side is the already-waived
    # broadcast scan.
    "similarity_hamming_recall": {"CARTESIAN"},
    # (round 6) probe assignment broadcasts the 8-row centroid table
    # (bounded by n_cells — the similarity_ann_ivf_routed waiver pattern);
    # serving itself is the cell-keyed cogroup, no data-scale cross
    # product.
    "similarity_ivf_pq_routed": {"CARTESIAN"},
    # (round 7) the composed recall audit runs TWO full pipelines by
    # design — the IVF-PQ serving chain (routing + ADC, the
    # similarity_ivf_pq exchange set) AND the exact-L2 ground truth whose
    # 8-query side broadcasts (the similarity_pq_recall waiver pattern);
    # the exchange count is the sum of both, not a scale smell.
    "similarity_ivf_pq_recall": {"CARTESIAN", "MANY_EXCH"},
    # (round 7) the OPQ A/B recall gate: same exact-GT 8-query broadcast
    # as similarity_pq_recall; the variance-ranked permutation itself is
    # one hash aggregate + a d-row collect, and encode/ADC are keyed
    # equi-joins.
    "similarity_opq_recall": {"CARTESIAN"},
    # (round 7) each HITS half-step attaches the ONE-row L1 norm to the
    # score table via broadcast crossJoin (the text_bm25_topk corpus-stats
    # pattern); the score/edge joins are keyed equi-joins and each
    # iteration is localCheckpoint-bounded.
    "graph_hits": {"CARTESIAN"},
    # (round 7) the two snapshot totals (n1, n2) are ONE broadcast row
    # attached to the histogram-scale joined frame; both histograms are
    # keyed hash aggregates.
    "agg_drift_tvd": {"CARTESIAN"},
    # (round 7) the digit grand total is ONE broadcast row attached to the
    # 9-row digit histogram (the agg_drift_tvd pattern).
    "quality_benford": {"CARTESIAN"},
    # (round 7) the corpus doc count N is ONE broadcast row attached to the
    # (doc, term) tf table; tf/df/top-k are keyed aggs and a per-doc window.
    "text_tfidf_topk": {"CARTESIAN"},
    # (round 7) the corpus grand total is ONE broadcast row attached to the
    # source-cardinality ranked curve (the agg_drift_tvd pattern).
    "agg_pareto_coverage": {"CARTESIAN"},
    # (round 7) triangle_list's checkpointed edge/oriented sets already bound
    # re-execution; the exchange count is the honest sum of the wedge
    # machinery (3 keyed shuffles) + vertex census + degree join + the final
    # vertex join — all on vertex/edge-cardinality frames, none redundant
    # (the graph_triangle_count lineage doctrine).
    "graph_clustering_coefficient": {"MANY_EXCH"},
    # (round 7) two peel rounds x (triangle wedge machinery + edge census +
    # support semi-filter), each round localCheckpoint-bounded — the honest
    # per-round shuffle budget of an iterative truss peel (the kcore /
    # clustering-coefficient lineage doctrine); rounds strictly shrink the
    # edge set.
    "graph_ktruss": {"MANY_EXCH"},
    # (round 7) the corpus count N is ONE broadcast row attached to each
    # anchor before the 4-way negative explode (the agg_drift_tvd pattern);
    # negatives are computed ids, no join at all.
    "sample_negatives_hash": {"CARTESIAN"},
    # (round 7) the corpus max order date is ONE broadcast row attached to
    # the customer-cardinality RFM aggregate (the agg_drift_tvd pattern).
    "agg_rfm_scores": {"CARTESIAN"},
    # (round 7) the trigram grand total is ONE broadcast row attached to the
    # |types|^3-bounded motif census (the agg_drift_tvd pattern).
    "temporal_event_trigrams": {"CARTESIAN"},
    # (round 7) audit-tier query by design: the 1-row truth count broadcasts
    # onto each config's 1-row metrics (CARTESIAN), and the exchange count is
    # 4 banding configs x (band join + dedup + hit join) over checkpointed
    # shingle/signature/truth frames — each config slice is the audit's
    # deliberate unit of work, not a redundant recomputation.
    "dedup_lsh_banding_audit": {"CARTESIAN", "MANY_EXCH"},
    # (round 7) the corpus max order date is ONE broadcast row attached to
    # every order before the aging-bucket CASE (the agg_rfm_scores pattern).
    "agg_aging_buckets": {"CARTESIAN"},
    # (round 7) the corpus doc count is ONE broadcast row attached to the
    # 20-row top-df head (the text_tfidf_topk pattern).
    "text_burstiness_profile": {"CARTESIAN"},
    # (round 7) the basket count N is ONE broadcast row attached to the
    # min-support-pruned pair table (the agg_drift_tvd pattern).
    "agg_association_rules": {"CARTESIAN"},
    # (round 7) the corpus max order date is ONE broadcast row attached to
    # every order before the half-life bucketing (the agg_aging_buckets
    # pattern).
    "sample_recency_decay": {"CARTESIAN"},
    # (round 7) the corpus high-water mark is ONE broadcast row attached to
    # every event before the trailing-window predicate (the aging pattern).
    "quality_freshness_profile": {"CARTESIAN"},
    # (round 7) the session grand total is ONE broadcast row attached to the
    # path-cardinality census (the agg_drift_tvd pattern).
    "agg_session_paths": {"CARTESIAN"},
    # (round 7) the class-count/total is ONE broadcast row attached to the
    # label-cardinality counts (the agg_drift_tvd pattern).
    "sample_class_weights": {"CARTESIAN"},
    # (round 7) the vector count N is ONE broadcast row attached to each
    # anchor before the 4-draw md5 ring (the sample_negatives_hash pattern).
    "embedding_distance_histogram": {"CARTESIAN"},
    # (round 7) the grand event total is ONE broadcast row attached to the
    # 168-cell heatmap (the agg_drift_tvd pattern).
    "temporal_activity_heatmap": {"CARTESIAN"},
    # (round 7) the spend grand total is ONE broadcast row attached to the
    # 10-row decile rollup (the agg_drift_tvd pattern).
    "agg_lorenz_curve": {"CARTESIAN"},
    # (round 7) the vector count N is ONE broadcast row attached to each
    # anchor before the 4-draw md5 ring (the embedding_distance_histogram
    # pattern).
    "embedding_label_separation": {"CARTESIAN"},
    # (round 7) the grand total N is ONE broadcast row attached to the
    # (cat, label) cell table (the agg_drift_tvd pattern).
    "eval_feature_chi2_cells": {"CARTESIAN"},
    # (round 7) the corpus count N is ONE broadcast row attached to each
    # anchor before the 2-draw md5 ring (the sample_negatives_hash pattern).
    "pairs_contrastive_dataset": {"CARTESIAN"},
    # (round 7) the edge count m is ONE broadcast row attached to the 1-row
    # community rollup (the agg_drift_tvd pattern).
    "graph_modularity_audit": {"CARTESIAN"},
    # (round 11) the gate tier broadcasts the 8-query side against the
    # corpus (the similarity_topk waiver); production routes candidates
    # through the bucketed rungs, then this per-pair exact refine.
    "similarity_range_search": {"CARTESIAN"},
    # (round 11) the 1-row (lo, hi) time-bounds frame is cross-joined onto
    # the event scan (scalar broadcast, the agg_drift_tvd pattern).
    "temporal_rate_shift_audit": {"CARTESIAN"},
    # (round 11) the 1-row grand-total frame is cross-joined onto the
    # 5-row fold audit (scalar broadcast).
    "sample_group_kfold": {"CARTESIAN"},
    # (round 11) the 20-row probe dim broadcasts onto the corpus scan
    # (constant-dim fanout — the join_spatial_grid offset-frame waiver);
    # at real probe counts the same plan runs Aho-Corasick per task.
    "contamination_substring_scan": {"CARTESIAN"},
    # (round 11) the 16-row anchor dim broadcasts onto the corpus scan
    # (the similarity_topk waiver — hard-negative mining IS a top-1 query
    # with a label filter); the argmax is a per-anchor window.
    "pairs_hard_negatives": {"CARTESIAN"},
    # (round 11) the 1-row positives-total frame is cross-joined onto the
    # bounded score-grid sweep (scalar broadcast, the eval_ks pattern).
    "eval_threshold_best_f1": {"CARTESIAN"},
    # (round 11) the 1-row computed-cap frame (min class size) is
    # cross-joined onto the ranked rows (scalar broadcast, the
    # sample_source_sqrt pattern).
    "sample_balanced_downsample": {"CARTESIAN"},
    # (round 11) the 1-row sketch-stats frame is cross-joined with the
    # 1-row exact-audit frame (the sanctioned 1-row stats-frame pattern).
    "sketch_kmv_intersection": {"CARTESIAN"},
    # (round 11) the 1-row dominance-component frame is cross-joined with
    # the 1-row (m, n) totals frame (the sanctioned 1-row stats-frame
    # pattern, eval_ab_cuped precedent).
    "eval_auc_delong_var": {"CARTESIAN"},
}


def strip_cached_subtrees(plan: str) -> str:
    """Drop the cached-plan subtree printed under every InMemoryRelation /
    InMemoryTableScan occurrence — it executes once at cache materialization,
    so counting its operators once per consumer massively over-counts."""
    out: list[str] = []
    skip_depth: int | None = None
    for line in plan.splitlines():
        m = re.search(r"[+:]- ", line)
        depth = m.start() if m else -1
        if skip_depth is not None:
            if depth > skip_depth or (depth == -1 and line.strip()):
                continue
            skip_depth = None
        out.append(line)
        if "InMemoryRelation" in line or "InMemoryTableScan" in line:
            skip_depth = depth
    return "\n".join(out)


def iter_flags(name: str, opt: str, phys: str, args, stats_bits: int | None = None) -> list[str]:
    opt = strip_cached_subtrees(opt)
    phys = strip_cached_subtrees(phys)
    flags = []
    for line in opt.splitlines():
        if "Filter" in line and len(line) > args.filter_chars:
            flags.append(f"BIG_FILTER({len(line)} chars)")
            break
    n_regex = opt.count("regexp_extract") + opt.count("regexp_replace")
    if n_regex > args.regex_max:
        flags.append(f"MANY_REGEX({n_regex})")
    if "CartesianProduct" in phys or "BroadcastNestedLoopJoin" in phys:
        flags.append("CARTESIAN")
    # count SHUFFLE exchanges only: broadcast exchanges move the small side
    # by design and don't repartition the stream, so they aren't the
    # at-scale red flag this bound is for
    n_exch = sum(
        1
        for line in phys.splitlines()
        if "Exchange" in line
        and "ReusedExchange" not in line
        and "BroadcastExchange" not in line
    )
    if n_exch > args.exchange_max:
        flags.append(f"MANY_EXCH({n_exch})")
    if stats_bits is not None and stats_bits > args.stats_bits_max:
        flags.append(f"STATS_BLOWUP({stats_bits} bits)")
    waived = WAIVERS.get(name, set())
    return [f for f in flags if f.split("(")[0] not in waived]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--filter-chars", type=int, default=4000)
    ap.add_argument("--regex-max", type=int, default=60)
    ap.add_argument("--exchange-max", type=int, default=12)
    ap.add_argument("--stats-bits-max", type=int, default=256)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from pyspark.sql import SparkSession

    from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

    b = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")

    qs = entry.queries()
    names = args.queries or sorted(qs)
    bad = 0
    for name in names:
        try:
            df = qs[name](spark, args.sf_dir)
            qe = df._jdf.queryExecution()
            opt = qe.optimizedPlan().toString()
            phys = qe.executedPlan().toString()
            stats_bits = int(qe.optimizedPlan().stats().sizeInBytes()).bit_length()
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            print(f"ERROR {name}: {type(exc).__name__}: {exc}")
            bad += 1
            continue
        flags = iter_flags(name, opt, phys, args, stats_bits)
        if flags:
            bad += 1
            print(f"FLAG  {name}: {', '.join(flags)}")
        else:
            print(f"ok    {name}")
    print(f"\n{len(names) - bad} clean / {bad} flagged of {len(names)}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
