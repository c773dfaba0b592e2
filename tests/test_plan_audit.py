"""Physical-plan guardrails for the whole query registry.

An unpartitioned Window funnels its entire input through ONE task — a
single-node choke point that a local bench never surfaces but a
1000-executor cluster dies on.  This suite fails if anyone reintroduces
one outside the documented bounded-cardinality sites.

It also pins a compact plan fingerprint (``tools/audit_plans.audit``:
exchanges, join strategies, pushed filters, Python nodes, codegen
spans) for every bench headline query, in ``plan_fingerprints.json``
beside this file.  The full plan text is reproducible with
``tools/capture_plans.py``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.audit_plans import _top_level_groups, audit, cartesians, global_windows

from .conftest import SF_SMOKE

FINGERPRINTS = Path(__file__).with_name("plan_fingerprints.json")

# Global (unpartitioned) Window nodes that are ALLOWED because their
# input frame is bounded by construction, independent of corpus size;
# each count is pinned so growth fails the test.
ALLOWED_GLOBAL_WINDOWS = {
    # k-means seeding: windows run post-.limit(16) (operators/
    # similarity.py) — a 16-row frame at any scale.
    "ann_ivf_topk": 2,
    # IVF-PQ: the same post-.limit(8) seed window, duplicated per
    # unshared centroid subtree (residual build, probe scoring, the
    # assignment inside ivf_assign) — every copy is an 8-row frame.
    "ann_ivfpq_topk": 7,
    # recall eval composes the IVF arm twice (baseline + probe side):
    # each copy's seed window runs directly above
    # TakeOrderedAndProject(limit=16) — a 16-row frame at any scale.
    "ann_recall_eval": 2,
    "cluster_kmeans": 1,
    "dedup_semantic": 3,
    "sample_cluster_balanced": 1,
    # token-budget selection: the cumulative window runs over the
    # quality-band aggregate (<= 10^4 + 1 rows; queries/llm.py).
    "select_token_budget": 1,
    # KS drift: the CDF window runs over the per-bin aggregate —
    # bounded by the value-domain grid (~5k bins), not by row count.
    "agg_ks_drift": 1,
    # two-phase global sequence: the cumulative-offset window runs
    # over the per-DAY count aggregate (one row per day — O(days) at
    # any corpus size); the corpus-sized row_number stays partitioned
    # by day.  This bounded window is the entire point of the rewrite.
    "seq_global_row_number": 1,
    # Mann-Whitney: the cumulative-offset window runs over the
    # per-BUCKET aggregate (<= 512 rows by construction); the
    # corpus-sized tie-group running sum stays partitioned by bucket.
    "stats_mann_whitney": 1,
    # Kruskal-Wallis reuses the same bucketed rank machinery: the one
    # unpartitioned window is the <=512-row bucket-offset cumsum.
    "stats_kruskal_wallis": 1,
    # Holm step-down: the rank/count window + the running-max window,
    # both over the <= |types|-row Welch p frame (the stats_bh_fdr
    # bounded-readout precedent).
    "stats_holm_bonferroni": 2,
    # interpolation join: the backward/forward IGNORE-NULLS bracket
    # columns share ONE per-day-rollup window node in the executed
    # plan — calendar-bounded.
    "join_interpolate_linear": 1,
    # runs test: both lag windows run over the per-DAY revenue
    # aggregate — bounded by calendar length, not order count.
    "stats_runs_test": 2,
    # CvM drift shares agg_ks_drift's CDF window over the per-BIN
    # aggregate — bounded by the value-domain grid.
    "stats_cvm_drift": 1,
    # Hamilton quotas: the remainder rank and leftover-sum windows
    # run over the per-SOURCE aggregate — bounded by source
    # cardinality, not corpus rows.
    "sample_quota_hamilton": 2,
    # Neyman allocation: same Hamilton windows over the per-source
    # aggregate (variance-weighted quotas) — bounded by sources.
    "sample_stratified_neyman": 2,
    # 2x12 MA decomposition: windows run over the MONTHLY aggregate —
    # bounded by calendar length (rn/lag/lead node + the count/MA
    # frame node).
    "orders_seasonality_decomposition": 2,
    # heatmap: the share-denominator window runs over the <=168-row
    # (dow, hour) cell aggregate — bounded by the calendar grid.
    "events_dow_hour_heatmap": 1,
    # coverage curve: the rank/cumsum window runs over the TOKEN
    # VOCABULARY aggregate — bounded by distinct token types, not by
    # corpus rows (the corpus collapses to (token, count) first).
    "text_ngram_coverage_curve": 1,
    # Kaplan-Meier: all three unpartitioned windows (at-risk suffix
    # sum, running integer log-sum, died-out running max) run over
    # the DISTINCT-DURATION aggregate — bounded by the calendar span
    # (O(days)), not by customer or order count.
    "orders_survival_km": 3,
    # SPRT: the cumulative llr window runs over the per-DAY
    # conversion aggregate — bounded by calendar length.
    "stats_sprt_conversion": 1,
    # BH-FDR: the p-rank row_number + the full-frame m/i* aggregates
    # run over the per-TYPE Welch aggregate (<= |event types| rows).
    "stats_bh_fdr": 2,
}


# Cartesian-shaped join nodes (CartesianProduct / BNLJ) that are
# ALLOWED because one side is a broadcast scalar (a 1-row aggregate:
# corpus totals, norms, thresholds) or a bounded frame (centroid seeds,
# quantile cut arrays) — O(n*1) at any corpus size.  Counts pinned so a
# new non-broadcast cartesian fails the build.
ALLOWED_CARTESIANS = {
    "agg_chi2_independence": 1,  # 1-row grand-total broadcast
    "agg_cohens_kappa": 3,       # 1-row totals x3 (marginals/agreement)
    "agg_ks_drift": 1,           # 1-row per-type totals broadcast
    "agg_histogram": 1,          # broadcast min/max scalar for bin width
    "ann_cosine_topk": 1,        # broadcast query vectors (documented baseline)
    "ann_ivf_topk": 2,           # broadcast centroid seeds (limit 16)
    "ann_ivfpq_topk": 4,         # centroid + PQ codebook seeds (limit 8)
    "ann_recall_eval": 4,        # baseline + IVF sides share seed frames
    "basket_part_pairs": 1,      # broadcast scalar total-baskets
    "basket_association_rules": 1,  # broadcast scalar total-baskets
    # broadcast min/max bounds scalar; the tie-group frame that embeds
    # it is referenced twice in the lazy plan (bucket offsets + ranks)
    "stats_mann_whitney": 2,
    # broadcast last-order-date scalar (censoring horizon)
    "orders_survival_km": 1,
    # broadcast period-midpoint date scalar (1 row)
    "orders_revenue_bridge": 1,
    # broadcast corpus doc-total scalar (quota denominator)
    "sample_quota_hamilton": 1,
    # broadcast weight-total scalar (Neyman quota denominator)
    "sample_stratified_neyman": 1,
    # 1-row epoch-midpoint scalar under each of the two lazy
    # per_variant consumers (pooled fold + readout) + the 1-row
    # pooled x 2-row readout cross; per_variant is persisted
    # so the subtree materializes ONCE at runtime (lazy-plan shape
    # only, graph_kcore precedent)
    "stats_cuped": 3,
    # 1-row epoch-midpoint scalar broadcast over events
    "events_did_estimator": 1,
    # 1-row epoch-midpoint scalar broadcast over events
    "stats_mcnemar": 1,
    # 1-row epoch-midpoint scalar broadcast over events
    "stats_cohens_d": 1,
    # 1-row epoch-midpoint scalar broadcast over events
    "events_poisson_rate_ratio": 1,
    # 1-row max-year scalar broadcast over the per-year rollup
    "part_sales_churn": 1,
    # the shared day-spine explode x distinct-type frame (bounded)
    "events_burstiness_fano": 1,
    # the same day-spine bounds scalar, referenced by BOTH sides of
    # the within-day rank self-join AND by the tie fold's own spine
    # copy, + the 1-row fold x ties cross — every instance O(n x 1)
    "stats_friedman": 4,
    # 1-row totals scalar broadcast over the per-bin CDF frame
    "stats_cvm_drift": 1,
    # 1-row edge-count scalar broadcast over the per-community terms
    "graph_community_modularity": 1,
    # broadcast query-signature set (vec_id % 25 — the documented
    # ann_cosine_topk baseline shape, metric swapped to Hamming)
    "embed_sign_hamming_ann": 1,
    # recall eval composes both ANN arms (cosine cross + sign cross)
    # + the 1-row n_queries scalar under the summary fold
    "embed_sign_recall_eval": 3,
    # broadcast anchor set (vec_id % 25 — the documented
    # ann_cosine_topk baseline shape; != predicate makes it a BNLJ)
    "embed_hard_negatives": 1,
    # 1-row (k, total_tokens) scalar broadcast over the per-source
    # token rollup
    "select_epoch_mix": 1,
    # 1-row min/max bounds scalar under the bucketed tie-group frame,
    # which the lazy plan references 4x (bucket offsets, ranks side of
    # the per-group join, ranks side of the tie fold, the rank frame's
    # own bucket join) + the 1-row fold x 1-row ties cross — every
    # instance is O(n x 1)
    "stats_kruskal_wallis": 5,
    # 1-row per-dim mean/variance array broadcast over embeddings
    "embed_outlier_mahalanobis": 1,
    # 1-row total-baskets scalar broadcast over the pair frame
    "orders_basket_lift": 1,
    # broadcast label-centroid frame (bounded by label cardinality,
    # not corpus rows) crossed with every vector — the O(n*k)
    # simplified-silhouette shape
    "embed_silhouette_simplified": 1,
    # 1-row epoch-midpoint scalar broadcast over events
    "stats_bh_fdr": 1,
    # 1-row doc-id min/max span broadcast (decile bucketing)
    "text_novelty_decay": 1,
    # 1-row revenue-total broadcast (band share denominator)
    "part_single_source_risk": 1,
    # 1-row snapshot-date (max order date) broadcast
    "orders_backlog_aging": 1,
    # day-spine explode x distinct-type frame (days x types, bounded)
    "events_holt_linear": 1,
    # broadcast max-week scalar; the per-week frame embedding it is
    # referenced twice in the lazy plan (report + churn self-join)
    "events_growth_accounting": 2,
    # broadcast corpus-token-total scalar (PMI denominator)
    "text_pmi_cooccur": 1,
    # day-spine explode x distinct-type frame (days x types, bounded);
    # the filled frame embedding it is referenced twice in the lazy
    # plan (actual + lag-7 predictor sides of the backtest self-join)
    "events_forecast_backtest": 2,
    # the same day-spine explode x distinct-type frame (bounded)
    "events_local_peaks": 1,
    # the same day-spine explode x distinct-type frame (bounded)
    "events_max_drawdown": 1,
    # broadcast totals scalar + broadcast k-checkpoint literal list
    "text_ngram_coverage_curve": 2,
    "bootstrap_ci_mean": 1,      # broadcast replicate index array
    "cluster_kmeans": 4,         # seed frame per unshared iteration subtree
    "cross_join": 1,             # the cross-join operator itself (bounded dims)
    "dedup_embedding_cosine": 1, # broadcast scalar norm threshold
    "dedup_semantic": 9,         # centroid seeds across assign/score subtrees
    "embed_centroid_outliers": 3,# broadcast global centroid (1 row)
    "embed_label_separation": 1, # 1-row global-centroid broadcast
    "embed_quantize_int8": 1,    # broadcast global scale scalar
    "events_concurrency": 1,     # broadcast minute-grid bounds scalar
    "events_ab_bucketing": 1,    # 1-row SRM statistic broadcast
    "events_cumulative_distinct": 1,  # broadcast day-grid bounds
    # day-spine explode x distinct-type frame (bounded) + the 1-row
    # max-day broadcast; the shared spine subtree prints its cross
    # under both lazy consumers (contrib + the mx aggregate)
    "events_ewma_smooth": 3,
    "events_rolling_active_users": 1, # broadcast day-grid bounds
    "graph_pagerank": 4,         # broadcast dangling-mass scalar per iter
    "join_bloom_pruned": 1,      # 1-row Bloom bit-words aggregate broadcast
    "join_range_bands": 1,       # bounded bands dim (documented range join)
    "orders_rfm_segments": 3,    # 1-row ref-date + quintile-cuts broadcasts
    "retrieval_rrf_fusion": 2,   # broadcast query vectors x2 retrievers
    "sample_cluster_balanced": 3,# centroid seeds
    "sample_balanced_classes": 1,  # 1-row min-class-size broadcast
    "sample_kcenter_coreset": 15,  # k=4 unrolled greedy: the LAZY plan
                                   # prints every 1-row center broadcast per
                                   # subtree; at runtime the persisted round
                                   # frames collapse it to 4 (verified by
                                   # executed-plan audit)
    "sample_negatives": 1,       # broadcast positives-per-anchor scalar
    "sample_stratified": 1,      # broadcast per-stratum rate frame
    "sample_temperature_mix": 1, # broadcast source-weight scalar frame
    "select_dsir": 1,            # broadcast corpus unigram totals scalar
    "sketch_hll_intersect": 1,   # two 1-row sketch aggregates crossed
    "split_time_holdout": 1,     # 1-row leakage-count broadcast
    "sketch_hll_mergeable": 1,   # 1-row merged sketch x 1-row exact
    "text_bigram_logprob": 1,    # broadcast corpus token total scalar
    "text_bm25_topk": 1,         # broadcast avgdl scalar
    "text_unigram_logprob": 1,   # broadcast corpus token total scalar
    "text_jsd_sources": 1,       # broadcast corpus-total scalar
    "tfidf_top_terms": 1,        # broadcast corpus doc-count scalar
    "tpch_q22ish": 1,            # broadcast avg-acctbal scalar (per spec)
    "window_ntile": 2,           # broadcast global row-count scalar
    "profile_benford": 1,        # 1-row grand-total broadcast
    "agg_incremental_merge": 2,  # 1-row cutoff broadcast, once per branch
    "split_kfold": 1,            # 1-row grand-total broadcast
    "embed_pair_distance_hist": 1,  # 1-row pair-total broadcast
    # broadcast 1-row source-count scalar (uniform-share denominator)
    "select_mix_planner": 1,
    # broadcast 1-row corpus error-rate totals (p-chart center line)
    "events_error_pchart": 1,
    # broadcast 1-row corpus pass-rate totals (shrinkage prior)
    "agg_bayes_shrunken_rates": 1,
    # 1-row (total, n_parts) scalar broadcast (Q11's HAVING threshold)
    "tpch_q11ish": 1,
    # day-spine explode x distinct-type frame (days x types, bounded);
    # the filled frame embedding it feeds four lazy consumers (pair
    # self-join a/b sides + n + ties) — persisted, so it
    # materializes once at runtime (lazy-plan shape only)
    "stats_mann_kendall": 4,
    # 1-row histogram-total scalar broadcast (share denominator)
    "events_lateness_profile": 1,
    # 1-row observed-diff scalar x the B-row draw frame, then the
    # 1-row extreme-count scalar x the 1-row observed frame
    "stats_permutation_test": 2,
    # 1-row (n_total, k) corpus scalar broadcast over the per-source
    # weight terms
    "sample_snis_clipped": 1,
    # 1-row epoch-midpoint scalar broadcast over events, then the
    # 1-row wide-estimates x 1-row exact x 1-row exact-union readout
    # crosses; the halved frame embedding the midpoint feeds four
    # lazy consumers (a/b/union sketch sides + exact counts) in the
    # lazy plan shape
    "sketch_kmv_set_ops": 6,
    # 1-row row-sums x 1-row col-sums x k-row type-count readout
    "stats_cochran_q": 2,
    # bounded day-spine cross (days x the 4-bucket literal frame) +
    # the 1-row block-count scalar on the readout
    "stats_page_trend": 2,
    # 1-row m (test count) scalar broadcast over the <= |types|-row
    # Holm readout frame
    "stats_holm_bonferroni": 1,
    # 1-row capture-totals x 1-row recapture-totals readout cross
    "stats_capture_recapture": 1,
    # 1-row min-day scalar broadcast over events; the daily rollup
    # embedding it chains under all 5 Haar-level union branches x 2
    # lazy consumers — series is persisted, so the corpus
    # 1-row min-day scalar broadcast over events, appearing twice in
    # the lazy plan (daily + the spine's distinct-types branch derived
    # from it); the 5 Haar levels evaluate as array expressions inside
    # one projection (r14), so no per-level copies remain (was 10)
    "events_haar_energy": 2,
    # 1-row x 1-row readout: the sorted node-list row crossed with the
    # collected |types|^2 edge-list row; the 12 power iterations run
    # as one aggregate() fold inside that single projection (r14)
    "events_markov_stationary": 1,
    # 1-row epoch-midpoint scalar broadcast over events; per_bin is
    # persisted (bounded by types x value-domain bins) and its
    # two lazy consumers (totals + term join) each print the subtree
    # (lazy-plan shape only, stats_cuped precedent)
    "stats_psi_drift": 2,
}


def test_bracket_group_parser():
    assert _top_level_groups("[a], [b ASC NULLS FIRST]") == [
        "a",
        "b ASC NULLS FIRST",
    ]
    assert _top_level_groups("[f(x[1]) AS y], [p], [o DESC NULLS LAST]") == [
        "f(x[1]) AS y",
        "p",
        "o DESC NULLS LAST",
    ]


def test_global_window_detector():
    part_only = "+- Window [count(1) windowspecdefinition(g#1L, specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS r#2L], [g#1L]"
    order_only = "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#4], [id#0L ASC NULLS FIRST]"
    part_order = "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#6], [g#1L], [id#0L ASC NULLS FIRST]"
    assert global_windows(part_only) == 0
    assert global_windows(order_only) == 1
    assert global_windows(part_order) == 0
    assert global_windows("\n".join([part_only, order_only, part_order])) == 1


def test_audit_counts_each_exchange_once():
    for line in (
        "+- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM",
        "+- Exchange hashpartitioning(k#1, 4)",
    ):
        assert audit(line)["exchanges"] == 1, line


def test_no_unbounded_global_windows_or_cartesians(spark):
    """Every registry query's physical plan: no global Window and no
    cartesian-shaped join beyond the pinned allowlists.  Plan
    construction only — no job runs except the few queries that
    execute eagerly while building (k-means / PageRank convergence
    loops, the ngram-Jaccard hot-shingle count), which are tiny at
    sf0.001.

    Cache reset first: earlier tests in a full-suite run persist the
    shared frames (the near-dup tokenization, graph edges, ...) for
    the same sf0.001 source plans, and Spark's cache manager swaps a
    persisted frame into any later plan as InMemoryTableScan — hiding
    the subtree nodes this audit counts, so pinned counts silently
    drop below their allowlist values.  Emptying the cache manager
    reproduces the fresh-session plans the pins were measured on.

    The same plans are fingerprinted: every bench headline query (and
    any other query pinned in plan_fingerprints.json) must match its
    committed fingerprint.  On a change the failure prints the fresh
    fingerprints; pasting them into the file acknowledges it."""
    import bench
    from rc_scanner_spark.operators.dedup import release_caches
    from rc_scanner_spark.queries import build_registry

    release_caches()

    pinned = json.loads(FINGERPRINTS.read_text())
    fingerprinted = set(bench.HEADLINE) | set(pinned)
    bad_win: dict[str, int] = {}
    bad_cart: dict[str, int] = {}
    changed: dict[str, dict] = {}
    for name, spec in sorted(build_registry().items()):
        df = spec.fn(spark, SF_SMOKE)
        plan = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        g = global_windows(plan)
        if g != ALLOWED_GLOBAL_WINDOWS.get(name, 0):
            bad_win[name] = g
        c = cartesians(plan)
        if c != ALLOWED_CARTESIANS.get(name, 0):
            bad_cart[name] = c
        if name in fingerprinted and (fp := audit(plan)) != pinned.get(name):
            changed[name] = fp
    assert not bad_win, (
        f"unpartitioned Window outside allowlist (or allowlist drift): {bad_win}"
    )
    assert not bad_cart, (
        f"cartesian join outside allowlist (or allowlist drift): {bad_cart}"
    )
    assert not changed, (
        f"plan fingerprint changed for {sorted(changed)}; if intended, paste "
        f"into {FINGERPRINTS.name}:\n{json.dumps(changed, indent=2, sort_keys=True)}"
    )
