"""The driver's correctness gate checks only the FIRST 50 queries in
registry order — pin that every operator family keeps a representative
inside that window (round-1 verdict requirement), and that the round-3
rotation actually landed every previously-unchecked query inside it
(round-2 verdict item 2)."""

# queries that need a driver row THIS round — round-11 additions — all
# must sit inside the 50-row window; everything rotated out is
# cumulatively driver-proven in r1-r10 and stays oracle-checked every
# pytest run (tests/test_oracle_parity.py)
ROTATED_IN = [
    "dedup_substring_scrub",
    "dedup_recall_banded",
    "dedup_substring_incremental",
]

# The window must also re-check the families that have been OUT of it
# longest: the 26 families benched during round 10 (last driver-green
# r09) ALL rotate back in round 11 — the freshness-budget
# forced-rotate-back (a family may be benched at most one round).
STALE_ROTATED_IN = [
    "array_equality_group",
    "interarrival_profile",
    "rare_category_collapse",
    "char_class_profile",
    "bigram_pmi_topk",
    "degree_histogram",
    "out_of_orderness_profile",
    "label_distinctive_terms",
    "dup_rate_by_source",
    "embedding_norm_profile",
    "freshness_audit",
    "activity_streaks",
    "etl_search_index_incremental",
    "label_noise_audit",
    "multimodal_decode",
    "nzv_audit",
    "pack_sequences",
    "corpus_curation",
    "pit_tier_enrich",
    "quality_percentile",
    "quantile_normalize",
    "revenue_retention",
    "except_keys",
    "pareto_frontier",
    "correlated_count",
    "bpe_pair_counts",
]


# Families benched from the window THIS round. The family count grows
# every round (each new operator family needs a slot) while the window
# stays 50, so the exemption policy is a FRESHNESS budget rather than a
# one-round pass: a family may be benched ONLY if a representative is
# driver-hash-green within the last TWO committed rounds (checked
# mechanically below against the named file), the exempt-set size is
# bounded by the DERIVED policy limit (len(families) − 50 +
# len(ROTATED_IN): a 50-slot window where the ROTATED_IN slots carry
# never-checked queries can cover at most 50 − len(ROTATED_IN)
# families even at one family per slot — computed in the assert below
# so the constant can never drift from the policy again, round-10
# verdict item 7), and a family benched for two consecutive rounds
# must rotate back in (STALE_ROTATED_IN above is round 10's instance
# of that rule — the 26 families exempt-under-r09 in round 10). Every
# benched family stays oracle-checked every pytest run
# (tests/test_oracle_parity.py).
WINDOW_EXEMPT_FAMILIES = {
    "benford": "CORRECTNESS_r10.json",
    "clustering": "CORRECTNESS_r10.json",
    "drift": "CORRECTNESS_r10.json",
    "entropy": "CORRECTNESS_r10.json",
    "funnel-latency": "CORRECTNESS_r10.json",
    "growth-accounting": "CORRECTNESS_r10.json",
    "inequality": "CORRECTNESS_r10.json",
    "kfold": "CORRECTNESS_r10.json",
    "lang-confusion": "CORRECTNESS_r10.json",
    "leakage-audit": "CORRECTNESS_r10.json",
    "link-prediction": "CORRECTNESS_r10.json",
    "listagg": "CORRECTNESS_r10.json",
    "markov": "CORRECTNESS_r10.json",
    "mode": "CORRECTNESS_r10.json",
    "novelty": "CORRECTNESS_r10.json",
    "pivot": "CORRECTNESS_r10.json",
    "rank-fusion": "CORRECTNESS_r10.json",
    "rfm": "CORRECTNESS_r10.json",
    "robust-location": "CORRECTNESS_r10.json",
    "session-tuning": "CORRECTNESS_r10.json",
    "tree-train": "CORRECTNESS_r10.json",
    "vocab-overlap": "CORRECTNESS_r10.json",
    "weighted-order-stats": "CORRECTNESS_r10.json",
    "window": "CORRECTNESS_r10.json",
    "zipf-spectrum": "CORRECTNESS_r10.json",
}


def test_first_50_covers_every_family():
    import json
    import os

    import __spark_entry__ as e

    window = list(e.queries())[:50]
    families = {
        "flagship": ["etl_search_index"],
        # since r4 the flagship row itself carries the FULL 67-column hash
        # oracle, which covers every column of the retired wide/spine twins
        "flagship-oracle": ["etl_search_index"],
        "aggregation": ["global_agg", "rollup_totals", "cube_counts"],
        "join": ["join_salted_skew", "harmonisation_cascade",
                 "bloom_prune_join"],
        "subquery": ["correlated_count"],
        "cascade": ["harmonisation_cascade"],
        "array-join": ["array_equality_group"],
        "window": ["window_ntile", "grouped_topk", "rolling_window"],
        "set-op": ["except_keys"],
        "cdc": ["scd2_merge", "stream_scd2_upsert", "ivm_merge",
                "snapshot_field_churn"],
        "collect": ["collect_set_markers", "global_agg"],
        "json": ["json_agg_struct", "json_key_profile"],
        "sketch": ["approx_distinct", "heavy_hitters", "approx_quantile",
                   "grouped_quantiles", "trimmed_mean_group",
                   "quantile_bin", "weighted_median_group"],
        "pivot": ["pivot_status"],
        "timeseries": ["events_daily", "cohort_retention",
                       "timeseries_gapfill", "funnel_time_to_convert",
                       "revenue_retention"],
        "anomaly": ["anomaly_iqr", "anomaly_mad", "seasonal_anomaly"],
        "recursion": ["recursive_closure", "pagerank", "bfs_distance"],
        "graph-analytics": ["triangle_count", "pagerank", "kcore",
                            "bfs_distance", "degree_histogram"],
        "assoc": ["itemset_pairs", "assoc_rules", "audience_overlap"],
        "dedup": ["dedup_edit_distance", "dedup_minhash_lsh",
                  "dedup_minhash_incremental", "dedup_keeper_quality",
                  "dedup_semantic", "dedup_groups", "dedup_groups_star",
                  "dedup_paragraph", "dedup_containment", "dedup_winnow",
                  "dedup_prefix_filter", "dup_cluster_histogram"],
        "skyline": ["pareto_frontier"],
        "similarity": ["ann_ivf_trained_topk", "ann_ivf_persisted",
                       "ann_ivf_delta_append"],
        "ann-eval": ["ann_recall", "dedup_recall", "dedup_recall_sampled",
                     "dedup_recall_banded"],
        "dedup-eval": ["dedup_recall", "dedup_recall_sampled",
                       "dedup_recall_banded"],
        "text": ["text_quality", "text_tfidf", "text_chunk",
                 "text_pii_scrub", "text_contamination", "text_repetition",
                 "unigram_lm_score", "bigram_lm_score", "ngram_novelty"],
        "multimodal": ["multimodal_decode", "multimodal_frames",
                       "multimodal_resize", "multimodal_dedup",
                       "multimodal_audio"],
        "temporal": ["asof_join", "range_join", "funnel_stages",
                     "sessionize_batch", "interval_overlap_join",
                     "rolling_window", "twap", "interarrival_profile",
                     "pit_tier_enrich", "activity_streaks"],
        "skew-profile": ["key_skew_profile"],
        "join-planning": ["join_cardinality_estimate",
                          "key_skew_profile"],
        "table-profile": ["table_stats", "profile_notnull",
                          "entropy_profile", "benford_profile",
                          "grouped_moments", "nzv_audit"],
        "markov": ["event_transitions", "event_path_topk"],
        "crosstab": ["crosstab_lift", "chi_square_assoc",
                     "audience_overlap"],
        "sampling": ["sample_stratified", "shuffle_shards",
                     "sample_weighted", "sample_weighted_grouped",
                     "sample_domain_mix", "split_leakage_audit",
                     "balanced_downsample", "stratified_kfold_assign"],
        "corpus-stats": ["ngram_topk", "inverted_index",
                         "corpus_language_mix", "bigram_pmi_topk",
                         "source_token_overlap", "vocab_accumulation",
                         "label_distinctive_terms"],
        "tokenizer": ["bpe_pair_counts", "bpe_train", "bpe_encode"],
        "pipeline": ["corpus_curation"],
        "clustering": ["kmeans_assign", "kmeans_assign_bcast"],
        "tree-train": ["stump_train"],
        "layout": ["zorder_layout", "bucket_cojoin", "partition_prune"],
        "packing": ["pack_sequences"],
        "quality-filter": ["quality_percentile", "percentile_rank"],
        "feature-encode": ["target_encode", "percentile_rank",
                           "robust_scale", "winsorize_group",
                           "quantile_bin"],
        "correlation": ["spearman_corr", "crosstab_lift",
                        "chi_square_assoc", "linreg_group"],
        "regression": ["linreg_group"],
        "data-quality": ["dq_check", "fk_orphan_audit"],
        "entropy": ["entropy_profile"],
        "inequality": ["gini_concentration", "concentration_topn"],
        "benford": ["benford_profile"],
        "listagg": ["string_agg_ordered"],
        "lm-filter": ["unigram_lm_score", "bigram_lm_score"],
        "quantile-normalize": ["quantile_normalize"],
        "entity-resolution": ["sorted_neighborhood", "er_score_pairs",
                              "golden_record_merge"],
        "streaming": ["stream_events_daily", "stream_events_sliding",
                      "session_window", "stream_stream_join",
                      "stream_sessionize", "stream_dedup",
                      "stream_windowed_topk", "stream_dq_monitor",
                      "stream_static_join", "stream_left_outer_join",
                      "stream_scd2_upsert"],
        # round-8 families
        "incremental-etl": ["etl_search_index_incremental"],
        "rank-fusion": ["rrf_fusion"],
        "novelty": ["ngram_novelty"],
        # round-7 families
        "ann-persist": ["ann_ivf_persisted", "ann_ivf_delta_append"],
        "binning": ["winsorize_group", "quantile_bin"],
        "link-prediction": ["link_predict_cn"],
        "attribution": ["attribution_touch", "stream_left_outer_join",
                        "attribution_position"],
        "drift": ["distribution_drift", "ks_drift", "chisq_drift"],
        "funnel-latency": ["funnel_time_to_convert"],
        "robust-location": ["trimmed_mean_group"],
        "model-eval": ["grouped_auc", "grouped_gain_curve",
                       "decile_migration"],
        # round-8 session-2/3 families
        "weighted-order-stats": ["weighted_median_group"],
        "growth-accounting": ["user_accumulation", "churn_summary"],
        "collocation": ["bigram_pmi_topk"],
        "leakage-audit": ["split_leakage_audit"],
        "mode": ["mode_group"],
        "referential-integrity": ["fk_orphan_audit"],
        "vocab-overlap": ["source_token_overlap", "vocab_accumulation"],
        # round-8 session-4 families
        "lang-confusion": ["lang_confusion"],
        "survivorship": ["golden_record_merge"],
        "class-balance": ["balanced_downsample"],
        "decile-migration": ["decile_migration"],
        "cluster-histogram": ["dup_cluster_histogram"],
        # round-9 families
        "label-noise": ["label_noise_audit"],
        "dup-scorecard": ["dup_rate_by_source"],
        "zipf-spectrum": ["token_frequency_spectrum"],
        "char-profile": ["char_class_profile"],
        "category-collapse": ["rare_category_collapse"],
        "cadence-profile": ["interarrival_profile"],
        "kfold": ["stratified_kfold_assign"],
        "degree-profile": ["degree_histogram"],
        "embedding-health": ["embedding_norm_profile"],
        "pit-enrich": ["pit_tier_enrich"],
        "rfm": ["rfm_segments"],
        "distinctive-terms": ["label_distinctive_terms"],
        "freshness": ["freshness_audit"],
        "audience-overlap": ["audience_overlap"],
        "revenue-retention": ["revenue_retention"],
        "gaps-islands": ["activity_streaks"],
        "json-profile": ["json_key_profile"],
        "nzv": ["nzv_audit"],
        "disorder-profile": ["out_of_orderness_profile"],
        "field-churn": ["snapshot_field_churn"],
        # round-10 families
        "substring-dedup": ["dedup_substring", "dedup_substring_stats",
                            "dedup_substring_scrub",
                            "dedup_substring_incremental"],
        "session-tuning": ["session_gap_sensitivity"],
    }
    missing = {
        fam: reps
        for fam, reps in families.items()
        if fam not in WINDOW_EXEMPT_FAMILIES
        and not any(r in window for r in reps)
    }
    assert not missing, f"families without a first-50 representative: {missing}"

    # exemptions are bounded and mechanically justified: at least one
    # rep of every benched family must be hash-green in the named
    # committed correctness file, and that file must be one of the last
    # TWO rounds (the freshness budget — see the comment on
    # WINDOW_EXEMPT_FAMILIES)
    # DERIVED policy bound (round-10 verdict item 7): a 50-slot window
    # whose ROTATED_IN slots carry never-checked queries can cover at
    # most 50 − len(ROTATED_IN) families even at one family per slot,
    # so the exempt set may never exceed the families that provably
    # cannot fit — computed, not hand-bumped
    assert len(WINDOW_EXEMPT_FAMILIES) <= len(families) - (
        50 - len(ROTATED_IN)
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    allowed_files = {"CORRECTNESS_r09.json", "CORRECTNESS_r10.json"}
    for fam, fname in WINDOW_EXEMPT_FAMILIES.items():
        assert fname in allowed_files, (
            f"benched family {fam} cites {fname}, outside the 2-round "
            "freshness budget"
        )
        prev = json.load(open(os.path.join(repo, fname)))
        green = [
            r
            for r in families[fam]
            if prev.get(r, {}).get("hash_match") is True
        ]
        assert green, (
            f"benched family {fam} has no rep hash-green in {fname}; "
            "it may not be exempted"
        )


def test_rotated_in_queries_are_inside_the_window():
    import __spark_entry__ as e

    window = set(list(e.queries())[:50])
    out = [q for q in ROTATED_IN if q not in window]
    assert not out, f"never-driver-checked queries still outside window: {out}"
    stale_out = [q for q in STALE_ROTATED_IN if q not in window]
    assert not stale_out, (
        f"two-rounds-stale family reps still outside window: {stale_out}"
    )


def test_registry_is_large_and_oracled():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert len(q) == 225
    # every query has an oracle; round 3 converted stream_sessionize,
    # approx_distinct and multimodal_decode (the deterministic stub fake
    # is SQL-expressible) to exact oracles
    assert set(q) == set(o), set(q) ^ set(o)
    # the window order is hand-kept: each name once, each one registered
    assert len(e._PRIORITY) == len(set(e._PRIORITY))
    assert set(e._PRIORITY) <= set(q), set(e._PRIORITY) - set(q)


def test_registry_import_error_is_fatal(monkeypatch):
    """A broken registry module must fail the registry, not silently
    drop its queries from the gated 50-query window and the bench."""
    import sys

    import pytest

    import __spark_entry__ as e

    # a None entry in sys.modules makes the next import raise ImportError
    monkeypatch.setitem(sys.modules, "pdcm_etl_spark.catalog.streaming", None)
    with pytest.raises(ImportError):
        e.queries()


def test_registry_duplicate_name_is_fatal(monkeypatch):
    """Two modules registering one name must not silently keep the later."""
    import pytest

    import __spark_entry__ as e

    monkeypatch.setattr(e, "_CATALOGS", e._CATALOGS + e._CATALOGS[-1:])
    with pytest.raises(ValueError, match="registered twice"):
        e.queries()


def test_registry_is_one_module_per_layer():
    """The registry is exactly the layer modules of pdcm_etl_spark/catalog/,
    each exporting CATALOG, with module-level imports only and no private
    name borrowed from a sibling layer; no lower package imports it."""
    import ast
    import glob
    import os
    from importlib import import_module

    import __spark_entry__ as e

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pdcm_etl_spark",
    )

    def imports(path):
        tree = ast.parse(open(path).read())
        top = set(map(id, tree.body))
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                yield node, id(node) in top, [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mod = "." * node.level + (node.module or "")
                yield node, id(node) in top, [f"{mod}.{a.name}" for a in node.names]

    layers = {
        f"pdcm_etl_spark.catalog.{os.path.basename(path)[:-3]}": path
        for path in glob.glob(os.path.join(pkg, "catalog", "*.py"))
        if not path.endswith("__init__.py")
    }
    assert sorted(e._CATALOGS) == sorted(layers)
    for module, path in layers.items():
        assert isinstance(import_module(module).CATALOG, dict), module
        for node, at_top, names in imports(path):
            assert at_top, f"{module}:{node.lineno}: function-local import"
            for name in names:
                sibling = name.startswith(("pdcm_etl_spark.catalog.", "."))
                assert not (sibling and name.rsplit(".", 1)[1].startswith("_")), (
                    f"{module}:{node.lineno}: private {name} from another layer"
                )

    for sub in ("operators", "streaming", "transforms", "sources", "functions"):
        for path in glob.glob(os.path.join(pkg, sub, "**", "*.py"), recursive=True):
            for node, _top, names in imports(path):
                bad = [
                    n for n in names
                    if n.startswith(("pdcm_etl_spark.catalog", "pdcm_etl_spark.plans.catalog"))
                ]
                assert not bad, f"{path}:{node.lineno} imports {bad}"
