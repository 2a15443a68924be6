"""Hash-verified correctness at sf1 for the heavy tail (round-9
verdict ask 1). Until now sf1 evidence was run-to-completion only
(sf1_sweep.py's noop sink) — a skew/overflow bug that only manifests at
10x data would pass every gate. This script closes that hole with
three per-query methods, strongest applicable first:

  * oracle      — the registry's own DuckDB oracle SQL executed ON the
                  sf1 lake, full driver-style compare (row count +
                  columns + order-insensitive canonical values) via
                  tests/harness.compare. Used for every heavy query
                  whose oracle is linear in the data (the flagship
                  family, stats, rank kit...).
  * invariant   — an exact cross-scale count identity on the
                  replicated-stress lake (gen_scale.py: text/vectors
                  identical across the m=10 replicas, ids offset).
                  For dedup_prefix_filter, whose candidate generation
                  is exact-complete: every sf0.1 pair (a,b) lifts to
                  all 10x10 replica combinations at the SAME Jaccard,
                  and each of the n3 documents with >= 1 shingle gains
                  C(10,2)=45 self-replica pairs at Jaccard 1.0, so
                    n_pairs(sf1) == 100 * n_pairs(sf0.1) + 45 * n3.
                  (The r9 profile numbers satisfy this exactly:
                  100*256 + 45*5000 = 250,600.) Checked alongside a
                  determinism double-run.
  * determinism — the query runs TWICE at sf1 (fresh plans) and both
                  runs must agree on a Spark-side canonical frame hash
                  (per-row xxhash64 over the name-sorted stringified
                  struct, summed in DECIMAL(38,0) + row count — order-
                  insensitive, never collected). Used for the dedup/ANN
                  family whose candidate generation is deliberately
                  lossy (stop-shingle / bucket caps), where neither a
                  brute-force oracle (pair-quadratic at sf1) nor a
                  replica-lift identity (frequency-dependent pruning
                  changes candidates at 10x) exists. A reason string
                  records WHY per query.

Also commits the sampled dedup_recall number at sf1 (round-9 verdict
ask 2): dedup_recall_sampled (sample_bp=2500) collected at sf1, the
recall_ppm + sample size recorded — replacing the sweep's EXCLUDED row
as the at-scale recall evidence.

Run SOLO (no concurrent JVMs — see the repo's scale-proof protocol):

    python scripts_dev/sf1_verify.py [sf1_dir] [out_jsonl]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    ),
)

from bench import release_blocks  # noqa: E402

SF01 = "/root/testdata/sf0.1"

# ---------------------------------------------------------------------------
# ROLLING sf1 verification (round-10 verdict item 2): coverage is a
# freshness window like the driver's 50-row gate. Each round verifies a
# ~30-query batch that is DISJOINT from everything already proven in a
# committed sf1_verify_r{N}.jsonl; tests/test_sf1_rotation.py pins the
# per-round sets (names in registry, batch size, disjointness).
# Budget math: 227-query registry; 51 proven in r10, 175 more in r11
# (three tranches + the late incremental op, ~1045 s wall solo) →
# 226/227 cumulative = FULL
# coverage, two rounds ahead of the original round-13 projection. The
# single remaining query is dedup_recall, excluded by design (see the
# exclusion note in sf1_verify_r11.jsonl). From round 12 the window's
# job flips from expansion to FRESHNESS: re-verify queries whose plans
# changed that round plus a rotating re-proof slice.
# ---------------------------------------------------------------------------

# DuckDB-oracle at sf1: queries with data-linear oracles.
ORACLE_R10 = [
    "etl_search_index",
    "etl_search_index_incremental",   # oracle IS the full rebuild
    "table_stats",
    "bucket_cojoin",
    "pricing_summary",
    "spearman_corr",
    "assoc_rules",
    "itemset_pairs",
    "weighted_median_group",
    "json_key_profile",
    "rollup_totals",
    "approx_quantile",
    "unpivot_metrics",
    "linreg_group",
    "ks_drift",
    "quantile_normalize",
    "shuffle_shards",
    "inverted_index",
    # round-10 breadth extension: mid-tier queries + the r10 additions,
    # all with data-linear oracles (results past ROW_CAP take the
    # native hash-compare path automatically)
    "dedup_exact",
    "dedup_paragraph",
    "text_tfidf",
    "unigram_lm_score",
    "corpus_curation",
    "funnel_stages",
    "cohort_retention",
    "scd2_merge",
    "asof_join",
    "sessionize_batch",
    "target_encode",
    "heavy_hitters",
    "dedup_substring",
    "dedup_substring_stats",
    "session_gap_sensitivity",
]

# Round-11 batch: the round-11 additions plus the next 31 stalest
# queries — deliberately aligned with the round-11 driver-gate window
# (forced-back families + set-cover reps), so the same round that
# re-proves a family at sf0.01 also proves it at sf1. All oracles are
# data-linear (profile/agg/join shapes); the pair-graph and
# IVF-assignment families stay in DETERMINISM rounds.
ORACLE_R11 = [
    "dedup_substring_scrub",      # r11 addition (positional oracle)
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
    "label_noise_audit",
    "multimodal_decode",
    "nzv_audit",
    "pack_sequences",
    "pit_tier_enrich",
    "quality_percentile",
    "revenue_retention",
    "except_keys",
    "correlated_count",
    "bpe_pair_counts",
    "audience_overlap",
    "quantile_bin",
    "balanced_downsample",
    "bigram_lm_score",
    "decile_migration",
    "fk_orphan_audit",
    "global_agg",
    "golden_record_merge",
    "key_skew_profile",
    "snapshot_field_churn",
    # tranche 2 (same round — the first tranche came in at 202 s
    # wall, far under budget, so the rolling window advances faster
    # than the ~30/round floor): every remaining query whose oracle is
    # data-linear at sf1. Still excluded, with reasons, for later
    # determinism rounds: the pair-graph family (quadratic truth), the
    # ANN family (quadratic truth), pagerank/recursive_closure
    # (N-round CTE oracles — cheap per round but edge-quadratic in
    # DuckDB's un-pruned intermediate at sf1).
    "json_agg_struct",
    "entropy_profile",
    "event_transitions",
    "kmeans_assign_bcast",
    "string_agg_ordered",
    "pivot_status",
    "chi_square_assoc",
    "funnel_time_to_convert",
    "rolling_window",
    "attribution_position",
    "grouped_gain_curve",
    "chisq_drift",
    "ngram_novelty",
    "rrf_fusion",
    "concentration_topn",
    "seasonal_anomaly",
    "user_accumulation",
    "split_leakage_audit",
    "mode_group",
    "source_token_overlap",
    "vocab_accumulation",
    "churn_summary",
    "lang_confusion",
    "corpus_language_mix",
    "anomaly_mad",
    "gini_concentration",
    "dq_check",
    "sample_weighted_grouped",
    "winsorize_group",
    "attribution_touch",
    "distribution_drift",
    "grouped_auc",
    "stream_dq_monitor",
    "stream_static_join",
    "robust_scale",
    "grouped_quantiles",
    "timeseries_gapfill",
    "grouped_moments",
    "event_path_topk",
    "join_cardinality_estimate",
    "sample_weighted",
    "twap",
    "sample_domain_mix",
    "stream_events_sliding",
    "percentile_rank",
    "interval_overlap_join",
    "stream_windowed_topk",
    "token_budget_select",
    "snapshot_diff",
    "crosstab_lift",
    "ivm_merge",
    "stream_sessionize",
    "kmeans_assign",
    "grouped_topk",
    "multimodal_meta",
    "multimodal_frames",
    "multimodal_resize",
    "multimodal_dedup",
    "multimodal_audio",
    "text_tokens",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_pii_scrub",
    "text_contamination",
    "text_repetition",
    "text_chunk",
    "ngram_topk",
    "er_score_pairs",
    "sorted_neighborhood",
    # tranche 3 (same round): the relational/window/string basics and
    # the graph CTE oracles — with this tranche plus DETERMINISM_R11
    # the registry is FULLY covered at sf1 except dedup_recall (whose
    # exact truth side out-spilled an 80 GB scratch disk at sf1 in r6;
    # its at-scale evidence is the sampled+banded twins, recorded as an
    # explicit exclusion note in the artifact).
    "filter_project",
    "join_left_fk",
    "join_multi_key",
    "join_nullsafe",
    "join_full_outer",
    "join_anti",
    "join_semi",
    "join_theta_rewrite",
    "sorted_list_per_group",
    "window_latest",
    "topk",
    "union_distinct",
    "string_clean",
    "regexp_extract",
    "posexplode_split",
    "explode_group_count",
    "case_buckets",
    "collect_set_markers",
    "conditional_agg",
    "profile_notnull",
    "json_build",
    "json_extract",
    "fk_dim_dense_id",
    "events_daily",
    "stream_events_daily",
    "session_window",
    "range_join",
    "sample_stratified",
    "stream_stream_join",
    "stream_dedup",
    "stream_scd2_upsert",
    "partition_prune",
    "join_salted_skew",
    "window_lag_delta",
    "grouping_sets",
    "profile_histogram",
    "cube_counts",
    "intersect_keys",
    "split_part",
    "date_arithmetic",
    "string_kit",
    "exact_percentile",
    "window_ntile",
    "approx_distinct",
    "trimmed_mean_group",
    "token_frequency_spectrum",
    "stratified_kfold_assign",
    "rfm_segments",
    "harmonisation_cascade",
    "stream_left_outer_join",
    "anomaly_iqr",
    "benford_profile",
    "bpe_encode",
    "bpe_train",
    "stump_train",
    "zorder_layout",
    "bloom_prune_join",
    "triangle_count",
    "bfs_distance",
    "recursive_closure",
    "pagerank",
    # late round-11 addition, verified the session it shipped
    "dedup_substring_incremental",
]

# determinism double-run; reason = why no oracle/invariant at sf1
DETERMINISM_R10 = {
    "dedup_ngram_jaccard": (
        "stop-shingle guard (max_shingle_freq) prunes on corpus "
        "frequency, which scales 10x on the replicated lake — "
        "candidates differ by design; brute-force oracle pair-quadratic"
    ),
    "dedup_containment": "same stop-shingle frequency dependence",
    "dedup_simhash": (
        "band-bucket candidate caps are corpus-frequency dependent; "
        "oracle pair-quadratic"
    ),
    "dedup_embedding": (
        "LSH bucketing + caps; brute-force cosine truth quadratic at sf1"
    ),
    "dedup_semantic": "same embedding-bucket shape",
    "dedup_groups": (
        "CC over the minhash pair graph — edges inherit banding "
        "probabilities; no closed-form replica lift"
    ),
    "dedup_groups_star": "same pair-graph dependence",
    "kcore": "same pair-graph dependence",
    "dedup_keeper_quality": "keeper set rides the pair graph",
    "dedup_edit_distance": (
        "length-bucket caps (max_bucket) bind at 10x density by design"
    ),
    "dedup_winnow": "winnow window selection is corpus-order sensitive",
    "ann_ivf_delta_append": (
        "IVF assignment rides trained centroids; exact top-k truth "
        "quadratic at sf1"
    ),
    "ann_ivf_persisted": "same IVF shape",
    "dedup_minhash_lsh": (
        "banding is probabilistic in the permutations; exact truth "
        "quadratic (recall measured separately via dedup_recall_sampled)"
    ),
}

DETERMINISM_R11: dict[str, str] = {
    "pareto_frontier": (
        "skyline oracle is the NOT-EXISTS dominance anti-join — "
        "pair-quadratic in DuckDB at sf1; correctness pinned by the "
        "sf0.01 oracle + python-fold property test"
    ),
    "dup_cluster_histogram": (
        "rides the minhash pair graph — edges inherit banding "
        "probabilities; no closed-form replica lift"
    ),
    "link_predict_cn": "same pair-graph dependence",
    "dedup_minhash_incremental": (
        "banding is probabilistic in the permutations; exact truth "
        "quadratic (recall covered by dedup_recall_sampled/_banded)"
    ),
    "ann_cosine_topk": (
        "exact top-k truth is query×corpus quadratic at sf1; "
        "determinism + the sf0.01 exact oracle pin it"
    ),
    "ann_ivf_topk": "same quadratic-truth shape",
    "ann_lsh_topk": "same quadratic-truth shape",
    "ann_ivf_trained_topk": (
        "IVF assignment rides trained centroids; exact truth "
        "quadratic (recall measured separately via ann_recall)"
    ),
    "ann_recall": (
        "the recall harness's own truth side is the quadratic exact "
        "baseline — sampled at 100 TB per the operator docstring"
    ),
}

# at-scale committed VALUE rows (no cross-engine oracle; the number
# itself is the artifact — recall ratios over sampled truth)
VALUE_R10 = ["dedup_recall_sampled"]
VALUE_R11 = ["dedup_recall_banded"]

ROUNDS = {
    10: (ORACLE_R10, DETERMINISM_R10, VALUE_R10),
    11: (ORACLE_R11, DETERMINISM_R11, VALUE_R11),
}


ROW_CAP = 300_000  # above this, Python row-compare is driver-hostile


def hash_compare(name, spark_df, con, sql) -> dict:
    """Cross-engine compare for LARGE results (the flagship family at
    sf1 is ~1.5M x 67 — a Python row canonicalization would be 100M
    objects): both engines compute the SAME order-insensitive canonical
    hash natively — the repo's portable 60-bit md5 hash
    (operators/dedup.py::portable_hash60 / DUCK_H60) over the
    name-sorted columns joined with 0x1f (NULL -> 0x00'N' sentinel),
    summed exactly (DECIMAL(38,0) / HUGEINT) — plus the row count.
    Valid because the registry's determinism rules already force every
    compare column to bigint/string (no float/decimal stringification
    skew); validated against the full row-compare at sf0.01 by
    tests/test_scale_helpers.py::test_hash_compare_agrees_with_row_compare."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.operators.dedup import DUCK_H60, portable_hash60

    cols = sorted(spark_df.columns)
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00N")) for c in cols
    ]
    h = portable_hash60(F.concat_ws("\x1f", *parts)).cast("decimal(38,0)")
    srow = spark_df.select(h.alias("__h")).agg(
        F.sum("__h").alias("hsum"), F.count(F.lit(1)).alias("n")
    ).first()
    dcols = ", ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0) || 'N')" for c in cols
    )
    dh = DUCK_H60.format(col=f"concat_ws(chr(31), {dcols})")
    drow = con.execute(
        f"SELECT SUM(CAST({dh} AS HUGEINT)) AS hsum, COUNT(*) AS n"
        f" FROM ({sql})"
    ).fetchone()
    ok = (str(srow["hsum"]) == str(drow[0])) and (
        int(srow["n"]) == int(drow[1])
    )
    return {
        "name": name,
        "ok": ok,
        "issues": []
        if ok
        else [
            f"hash spark=({srow['hsum']},{srow['n']}) "
            f"duck=({drow[0]},{drow[1]})"
        ],
        "mode": "native-hash",
    }


def frame_hash(df):
    """Order-insensitive canonical hash computed INSIDE Spark (no
    collect): xxhash64 of the name-sorted stringified row struct,
    summed exactly in DECIMAL(38,0), plus the row count."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(
        F.to_json(
            F.struct(*[F.col(c).cast("string").alias(c) for c in cols])
        )
    )
    row = df.select(
        h.cast("decimal(38,0)").alias("__h")
    ).agg(
        F.sum("__h").alias("hsum"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (str(row["hsum"]), int(row["n"]))


def main() -> None:
    rnd = int(os.environ.get("SF1_VERIFY_ROUND", "11"))
    oracle_set, det_set, value_set = ROUNDS[rnd]
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    out = sys.argv[2] if len(sys.argv) > 2 else (
        f"scripts_dev/sf1_verify_r{rnd}.jsonl"
    )
    import duckdb

    import harness
    import __spark_entry__ as entry
    from pdcm_etl_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("sf1-verify")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()

    done = set()
    if os.path.exists(out):
        with open(out) as fh:
            # artifacts may carry keyless provenance "note" records —
            # only measurement rows count as done
            done = {
                rec["name"]
                for rec in (json.loads(ln) for ln in fh if ln.strip())
                if "name" in rec
            }

    def emit(rec: dict) -> None:
        print(json.dumps(rec), flush=True)
        with open(out, "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    # -- method: oracle ---------------------------------------------------
    for name in oracle_set:
        if name in done:
            continue
        t0 = time.time()
        try:
            con = duckdb.connect()
            for t in harness.TABLES:
                # Spark-written lakes are DIRECTORIES named *.parquet
                pat = (f"{sf1}/{t}.parquet/*.parquet"
                       if os.path.isdir(f"{sf1}/{t}.parquet")
                       else f"{sf1}/{t}.parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{pat}')"
                )
            df = qs[name](spark, sf1)
            n = df.count()
            if n > ROW_CAP:
                res = hash_compare(name, df, con, oracles[name])
            else:
                res = harness.compare(name, df, con, oracles[name])
            con.close()
            emit({
                "name": name, "method": "duckdb_oracle",
                "ok": res["ok"], "issues": res["issues"],
                "wall_sec": round(time.time() - t0, 1),
            })
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            emit({
                "name": name, "method": "duckdb_oracle", "ok": False,
                "issues": [f"EXC {type(exc).__name__}: {exc}"[:300]],
                "wall_sec": round(time.time() - t0, 1),
            })
        release_blocks(spark)

    # -- method: invariant (dedup_prefix_filter replica lift) -------------
    if rnd == 10 and "dedup_prefix_filter" not in done:
        t0 = time.time()
        try:
            n01 = qs["dedup_prefix_filter"](spark, SF01).count()
            docs01 = spark.read.parquet(
                os.path.join(SF01, "documents.parquet")
            )
            n3 = docs01.filter(
                F.size(F.split(F.lower(F.col("text")), " ")) >= 3
            ).count()
            expected = 100 * n01 + 45 * n3
            h1 = frame_hash(qs["dedup_prefix_filter"](spark, sf1))
            release_blocks(spark)
            h2 = frame_hash(qs["dedup_prefix_filter"](spark, sf1))
            ok = (h1 == h2) and (h1[1] == expected)
            emit({
                "name": "dedup_prefix_filter", "method": "invariant",
                "ok": ok,
                "detail": {
                    "n_sf01_pairs": n01, "n_docs_ge3tok_sf01": n3,
                    "expected_sf1_pairs": expected, "got_sf1_pairs": h1[1],
                    "hash_run1": h1[0], "hash_run2": h2[0],
                    "identity": "n(sf1) == 100*n(sf0.1) + 45*n3",
                },
                "wall_sec": round(time.time() - t0, 1),
            })
        except Exception as exc:  # noqa: BLE001
            emit({
                "name": "dedup_prefix_filter", "method": "invariant",
                "ok": False,
                "issues": [f"EXC {type(exc).__name__}: {exc}"[:300]],
                "wall_sec": round(time.time() - t0, 1),
            })
        release_blocks(spark)

    # -- method: determinism double-run ------------------------------------
    for name, reason in det_set.items():
        if name in done:
            continue
        t0 = time.time()
        try:
            h1 = frame_hash(qs[name](spark, sf1))
            release_blocks(spark)
            h2 = frame_hash(qs[name](spark, sf1))
            emit({
                "name": name, "method": "determinism_2run",
                "ok": h1 == h2,
                "detail": {"hash_run1": h1[0], "rows_run1": h1[1],
                           "hash_run2": h2[0], "rows_run2": h2[1]},
                "why_no_oracle": reason,
                "wall_sec": round(time.time() - t0, 1),
            })
        except Exception as exc:  # noqa: BLE001
            emit({
                "name": name, "method": "determinism_2run", "ok": False,
                "issues": [f"EXC {type(exc).__name__}: {exc}"[:300]],
                "wall_sec": round(time.time() - t0, 1),
            })
        release_blocks(spark)

    # -- at-scale committed VALUE rows (sampled recall family) -------------
    # bounded outputs (1 row scalar / ≤5 band rows); the committed
    # numbers ARE the artifact — sanity: every recall_ppm in [0, 1e6]
    for name in value_set:
        if name in done:
            continue
        t0 = time.time()
        try:
            rows = [r.asDict() for r in qs[name](spark, sf1).collect()]
            ppms = [
                r["recall_ppm"] for r in rows if "recall_ppm" in r
            ]
            emit({
                "name": name, "method": "value",
                "ok": bool(rows)
                and all(
                    p is None or 0 <= p <= 1_000_000 for p in ppms
                )
                and any(p is not None for p in ppms),
                "detail": {"sample_bp": 2500, "rows": rows},
                "wall_sec": round(time.time() - t0, 1),
            })
        except Exception as exc:  # noqa: BLE001
            emit({
                "name": name, "method": "value",
                "ok": False,
                "issues": [f"EXC {type(exc).__name__}: {exc}"[:300]],
                "wall_sec": round(time.time() - t0, 1),
            })

    spark.stop()


if __name__ == "__main__":
    main()
