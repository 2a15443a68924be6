#!/usr/bin/env python
"""Benchmark harness — runs the headline operator queries end-to-end and
prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced with the noop sink (full computation, no driver
collect — measures the engine, not result transfer). Default data dir
$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1; cores $SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "etl_search_index",  # the flagship: full entity DAG -> 67-col search_index
    # (round-1 comparison note: r01's flagship projected only the 17-col
    # spine; the full-width index adds the 5 measurement modules + 16
    # per-model aggregates, so flagship seconds are not like-for-like)
    "pricing_summary",
    "filter_project",
    "join_left_fk",
    "join_multi_key",
    "join_full_outer",
    "correlated_count",
    "harmonisation_cascade",
    "sorted_list_per_group",
    "window_latest",
    "collect_set_markers",
    "explode_group_count",
    "events_daily",
    "recursive_closure",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_groups",
    "dedup_semantic",
    "asof_join",
    "range_join",
    "scd2_merge",
    "session_window",
    "sample_stratified",
    "corpus_curation",
    "ann_cosine_topk",
    "ann_ivf_trained_topk",
    "kmeans_assign",
    "text_quality",
    "text_langid",
    "text_tfidf",
    "text_contamination",
    "text_repetition",
    "text_chunk",
    "ngram_topk",
    "pack_sequences",
    "shuffle_shards",
    "quality_percentile",
    "multimodal_meta",
    # round-4 additions (round-3 verdict item 7): every registry family
    # has timing history — streaming drains + the Arrow multimodal ops
    "stream_events_daily",
    "stream_events_sliding",
    "stream_dedup",
    "stream_scd2_upsert",
    "multimodal_decode",
    "multimodal_frames",
    "dedup_paragraph",
    "sample_domain_mix",
    "bpe_pair_counts",
    "bpe_train",
    "bpe_encode",
    "unigram_lm_score",
    "inverted_index",
    "stump_train",
    "zorder_layout",
    "pagerank",
    "funnel_stages",
    "cohort_retention",
    "dedup_edit_distance",
    "triangle_count",
    "itemset_pairs",
    "timeseries_gapfill",
    "anomaly_iqr",
    "dedup_containment",
    "pareto_frontier",
    "bucket_cojoin",
    "sessionize_batch",
    "ivm_merge",
    "bloom_prune_join",
    "grouped_topk",
    "multimodal_dedup",
    "corpus_language_mix",
    # round-5 additions: star components + large-k kmeans + sketches +
    # trailing window / interval overlap / skew diagnostics
    "dedup_groups_star",
    "kmeans_assign_bcast",
    "heavy_hitters",
    "approx_quantile",
    "rolling_window",
    "interval_overlap_join",
    "key_skew_profile",
    "partition_prune",
    "dedup_winnow",
    "dedup_prefix_filter",
    "token_budget_select",
    "snapshot_diff",
    "sorted_neighborhood",
    "multimodal_audio",
    "assoc_rules",
    "event_transitions",
    "table_stats",
    "twap",
    "crosstab_lift",
    "kcore",
    "stream_windowed_topk",
    "anomaly_mad",
    "percentile_rank",
    "target_encode",
    "robust_scale",
    "spearman_corr",
    # round-6 additions: statistical analytics + DQ + BFS + LISTAGG +
    # weighted sampling
    "linreg_group",
    "chi_square_assoc",
    "benford_profile",
    "entropy_profile",
    "gini_concentration",
    "dq_check",
    "bfs_distance",
    "string_agg_ordered",
    "sample_weighted",
    "bigram_lm_score",
    "quantile_normalize",
    "er_score_pairs",
    "dedup_recall",
    "stream_dq_monitor",
    "sample_weighted_grouped",
    "join_cardinality_estimate",
    "stream_static_join",
    "grouped_quantiles",
    "event_path_topk",
    "grouped_moments",
    # round-7 additions: persisted-index ANN serving, winsorization,
    # link prediction, session attribution
    "ann_ivf_persisted",
    "ann_ivf_delta_append",
    "winsorize_group",
    "link_predict_cn",
    "attribution_touch",
    "stream_left_outer_join",
    "distribution_drift",
    "quantile_bin",
    "trimmed_mean_group",
    "funnel_time_to_convert",
    "ks_drift",
    "grouped_auc",
    # round-8 additions: incremental flagship, multi-touch attribution,
    # gains/lift, chi-square drift decomposition, n-gram novelty,
    # rank fusion
    "etl_search_index_incremental",
    "attribution_position",
    "grouped_gain_curve",
    "chisq_drift",
    "ngram_novelty",
    "rrf_fusion",
    # round-8 session-2: weighted/seasonal rank kit, growth accounting,
    # collocation mining, split-leakage audit
    "weighted_median_group",
    "concentration_topn",
    "seasonal_anomaly",
    "user_accumulation",
    "bigram_pmi_topk",
    "split_leakage_audit",
    # round-8 session-3: deterministic mode, FK integrity audit,
    # source vocabulary overlap, Heaps growth curve, churn accounting
    "mode_group",
    "fk_orphan_audit",
    "source_token_overlap",
    "vocab_accumulation",
    "churn_summary",
    # round-8 session-4: language confusion, dup-cluster histogram,
    # class balancing, survivorship merge, decile migration
    "lang_confusion",
    "dup_cluster_histogram",
    "balanced_downsample",
    "golden_record_merge",
    "decile_migration",
    # round-9 additions: curation audits, spectra, cadence/kfold/embedding
    # profiles
    "label_noise_audit",
    "dup_rate_by_source",
    "token_frequency_spectrum",
    "char_class_profile",
    "rare_category_collapse",
    "interarrival_profile",
    "stratified_kfold_assign",
    "degree_histogram",
    "embedding_norm_profile",
    "pit_tier_enrich",
    "rfm_segments",
    "label_distinctive_terms",
    "freshness_audit",
    "audience_overlap",
    "revenue_retention",
    "activity_streaks",
    "json_key_profile",
    "nzv_audit",
    "out_of_orderness_profile",
    "snapshot_field_churn",
    # round-9 (verdict ask 7): the remaining registry queries — mostly
    # sub-second micro-ops, folded in so every registry row (220 as of
    # r9; the list below is additive each round) has a round-over-round
    # sf0.1 anchor in BENCH_FULL.json (the printed line still truncates
    # slowest-first to the driver's tail budget)
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_recall",
    "approx_distinct",
    "array_equality_group",
    "case_buckets",
    "conditional_agg",
    "cube_counts",
    "date_arithmetic",
    "dedup_embedding",
    "dedup_keeper_quality",
    "dedup_minhash_incremental",
    "dedup_simhash",
    "etl_search_index_spine",
    "etl_search_index_wide",
    "exact_percentile",
    "except_keys",
    "fk_dim_dense_id",
    "global_agg",
    "grouping_sets",
    "intersect_keys",
    "join_anti",
    "join_nullsafe",
    "join_salted_skew",
    "join_semi",
    "join_theta_rewrite",
    "json_agg_struct",
    "json_build",
    "json_extract",
    "multimodal_resize",
    "pivot_status",
    "posexplode_split",
    "profile_histogram",
    "profile_notnull",
    "regexp_extract",
    "rollup_totals",
    "split_part",
    "stream_sessionize",
    "stream_stream_join",
    "string_clean",
    "string_kit",
    "text_fingerprint",
    "text_pii_scrub",
    "text_tokens",
    "topk",
    "union_distinct",
    "unpivot_metrics",
    "window_lag_delta",
    "window_ntile",
]


def release_blocks(spark) -> None:
    """Drop every checkpointed / persisted RDD and force a driver-JVM GC
    so the async ContextCleaner reclaims broadcast + block-store state,
    then run a trivial job and cool down so the cleaner drains outside
    the timed region. The r8 flagship "warm-exec regression" (11.8 ->
    18.1 s) was a measurement taken after ~150 warm-up queries with NO
    release — accumulated block pressure, not a plan change."""
    import gc

    from pdcm_etl_spark.operators.sharing import release

    gc.collect()
    release(spark)
    spark.sparkContext._jvm.System.gc()
    spark.range(10).count()
    time.sleep(0.5)


def _first_line(e: BaseException) -> str:
    """A short, JSON-friendly description of a failure."""
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"[:160]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    from pdcm_etl_spark.session import get_spark

    spark = get_spark("pdcm-etl-spark-bench")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # round-10: auto-fold registry queries missing from the manual list
    # so BENCH_FULL always covers the WHOLE registry — the list used to
    # need a hand-append every round and drifted (r10 shipped 224
    # queries while the list held 220)
    HEADLINE.extend(sorted(set(queries) - set(HEADLINE)))

    # JVM/codegen warmup so timings measure the engine, not first-job
    # class-loading: JMH-style — run every headline query once at the
    # smallest scale factor (sf0.001) before the timed loop. Whole-stage
    # codegen keys on generated source, so the sf0.001 run compiles the
    # same janino classes the timed sf run reuses (measured: flagship
    # 39.3s -> 31.9s at sf0.1; minhash 6.7s -> 1.9s).
    spark.range(1_000_000).selectExpr(
        "sum(id)",
        "sum(cast(id as decimal(18,2)))",
        "count(distinct id % 100)",
    ).collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # a query failing at warm scale still gets timed below; the failure
    # is recorded in BENCH_FULL.json
    warmup_errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            warmup_errors[name] = _first_line(e)
    for t in ("lineitem", "orders", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    # the flagship's first execution at the TIMED scale is 2-5x its
    # steady state (tiered JIT + page cache + AQE stats warm up across
    # runs — measured 154s -> 65 -> 41 -> 33 at sf0.1); one warm pass at
    # sf_dir moves the timed medians into the steady-state zone
    # this first at-scale execution IS the cold number — record it
    # (r6 verdict item 4: report the cold/warm split instead of letting
    # the warmup hide it). The r7 profile of the cold/warm gap: warm
    # steady state is ~8s plan build (JVM-side analysis of the
    # ~60-entity DAG + AQE planning through the lazy localCheckpoints)
    # + ~14s execution; the cold surplus (~40s) is one-time JVM/codegen
    # /first-scan warmup, not plan cost — it amortizes across a session,
    # which is exactly how a 100 TB deployment runs (long-lived driver).
    flagship_split: dict[str, object] = {}
    fn = queries.get("etl_search_index")
    if fn is not None:
        try:
            release_blocks(spark)
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            flagship_split["flagship_cold_sec"] = round(time.time() - t0, 3)
            # one warm pass, split into plan-construction vs execution
            release_blocks(spark)
            t0 = time.time()
            df = fn(spark, sf_dir)
            flagship_split["flagship_warm_build_sec"] = round(
                time.time() - t0, 3
            )
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            flagship_split["flagship_warm_exec_sec"] = round(
                time.time() - t0, 3
            )
            # budget guard (r7 verdict item 8): DAG growth must not
            # silently double the flagship. Soft warning, not a hard
            # fail — host noise at sf0.1 is ±50% — but the driver tail
            # captures this line, so a breach is visible per-round.
            warm_total = (
                flagship_split["flagship_warm_build_sec"]
                + flagship_split["flagship_warm_exec_sec"]
            )
            budget = float(
                os.environ.get("SPARK_GRAFT_FLAGSHIP_BUDGET_SEC", "25")
            )
            # r8 lesson: the stderr warning is invisible in the driver's
            # stdout tail — carry the breach INSIDE the one JSON payload
            # the driver always parses (and BENCH_FULL.json), so a budget
            # breach is a per-round artifact, not a lost log line.
            flagship_split["flagship_budget_sec"] = budget
            flagship_split["flagship_budget_breach"] = bool(
                warm_total > budget
            )
            if warm_total > budget:
                print(
                    "WARNING: flagship warm build+exec "
                    f"{warm_total:.1f}s exceeds {budget:.0f}s budget",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            flagship_split["flagship_error"] = _first_line(e)

    # Per-query timing is the MEDIAN of REPS runs: single-run wall clock
    # at this scale has ±30% noise (GC, async block cleanup, codegen
    # cache effects), which can mask a real regression round-over-round.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        runs: list[float] = []
        for _ in range(reps):
            # drop refs to the previous run's checkpointed/persisted RDDs
            # so the ContextCleaner can unpersist before the next
            # measurement — otherwise earlier queries' block-store
            # pressure bleeds into later timings (measured: flagship reps
            # oscillate 34-132s with accumulation vs a stable ~24s with
            # explicit release; broadcast/shuffle state is only reclaimed
            # on driver-JVM GC, which a 128 GiB heap may never trigger
            # between reps). release_blocks runs a trivial job + cooldown
            # so the async cleaner drains outside the timed region.
            release_blocks(spark)
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only the LAST ~2000 chars of stdout and parses
    # the JSON line from that tail — round 5's 95-query line overflowed
    # it and the round's numbers were lost (BENCH_r05 "parsed": null).
    # Full per-query timings go to BENCH_FULL.json in the repo; the
    # printed line carries the slowest queries that fit the tail budget
    # (sub-second rows are wall-noise anyway — memory: ±50-100% swings).
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_FULL.json"),
        "w",
    ) as fh:
        json.dump(
            {
                "metric": "headline_operator_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "cpus": spark.sparkContext.defaultParallelism,
                "spark.driver.memory": spark.sparkContext.getConf().get(
                    "spark.driver.memory"
                ),
                "warmup_errors": warmup_errors,
                **flagship_split,
            },
            fh,
            indent=1,
        )
    print(format_bench_line(timings, sf_val, flagship_split))


def format_bench_line(
    timings: dict[str, float],
    sf_val,
    flagship_split: dict[str, float] | None = None,
    budget: int = 1800,
) -> str:
    """The ONE printed JSON line, slowest-queries-first, truncated to
    ``budget`` chars (the driver parses the last ~2000 chars of stdout —
    r5's full 95-query line overflowed that tail and the round's numbers
    were lost). Unit-tested against a 200-query registry in
    tests/test_bench_line.py so the limit stays load-bearing-and-green
    instead of load-bearing-and-silent."""
    total = round(sum(timings.values()), 3)
    compact = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    payload = {
        "metric": "headline_operator_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {},
        "queries_timed": len(timings),
        "queries_full": "BENCH_FULL.json",
        "sf": sf_val,
        **(flagship_split or {}),
    }
    for name, sec in compact.items():
        payload["queries"][name] = sec
        if len(json.dumps(payload, separators=(",", ":"))) > budget:
            del payload["queries"][name]
            break
    return json.dumps(payload, separators=(",", ":"))


if __name__ == "__main__":
    main()
