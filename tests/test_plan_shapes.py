"""Physical-plan regression tests — the scale contract.

Correctness tests prove the small-SF answer; these prove the *plan* is the
one that survives 100 TB: filters reach the parquet scan, dim joins
broadcast, aggregates are map-side partial, and no row-at-a-time Python
sits in a hot path."""

import contextlib
import io

import pytest


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@contextlib.contextmanager
def _unshared():
    """Build plans with compute-once sharing off (operators/sharing.py).

    A share boundary truncates the printed plan at a `Scan ExistingRDD`:
    the shape below it still executes, it just materializes once. Shape
    pins on subtrees behind a boundary assert the full recompute plan
    instead. ``shared()`` is the only lazy ``localCheckpoint`` caller
    (tests/test_sharing.py guards that), so a lazy checkpoint that
    returns the frame itself removes exactly the share boundaries; eager
    loop checkpoints still cut."""
    from pyspark.sql.classic.dataframe import DataFrame

    checkpoint = DataFrame.localCheckpoint

    def lazy_is_identity(self, eager=True, *args, **kwargs):
        return checkpoint(self, eager, *args, **kwargs) if eager else self

    DataFrame.localCheckpoint = lazy_is_identity
    try:
        yield
    finally:
        DataFrame.localCheckpoint = checkpoint


def _unshared_plan(fn, spark, sf_dir, mode="formatted") -> str:
    with _unshared():
        return _plan(fn(spark, sf_dir), mode=mode)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, queries):
    plan = _plan(queries["filter_project"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least one real predicate pushed (not an empty list)
    assert "PushedFilters: []" not in plan


def test_column_pruning_reaches_scan(spark, sf_dir, queries):
    plan = _plan(queries["filter_project"](spark, sf_dir))
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    # projection of a few columns must not read the full 16-col lineitem
    assert scan.count(",") < 8


def test_fk_join_broadcasts_dim(spark, sf_dir, queries):
    plan = _plan(queries["join_left_fk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_is_partial_then_final(spark, sf_dir, queries):
    plan = _plan(queries["pricing_summary"](spark, sf_dir))
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    # map-side combine visible as partial_* functions before the exchange
    assert "partial_sum" in _plan(queries["pricing_summary"](spark, sf_dir), mode="simple")


def test_no_python_udf_in_scalar_paths(spark, sf_dir, queries):
    for name in ("text_quality", "text_langid", "text_tokens",
                 "string_clean", "case_buckets", "dedup_exact"):
        plan = _plan(queries[name](spark, sf_dir), mode="simple")
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_theta_join_is_equi_rewrite(spark, sf_dir, queries):
    # the reference's `expr(a || ' ' || b == entry)` theta join would plan
    # as BroadcastNestedLoopJoin; our precomputed-key rewrite must not
    plan = _plan(queries["join_theta_rewrite"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_single_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["asof_join"](spark, sf_dir))
    # union + ordered window: the only exchange is the hash partition on
    # the equality keys — no nested loop, no range explosion
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_range_join_plans_as_hash_join(spark, sf_dir, queries):
    plan = _plan(queries["range_join"](spark, sf_dir))
    assert "BroadcastNestedLoop" not in plan, plan


def test_sample_is_scan_side_filter(spark, sf_dir, queries):
    plan = _plan(queries["sample_stratified"](spark, sf_dir))
    # membership is a pure row predicate: no shuffle at all
    assert "Exchange" not in plan, plan


def test_annotation_resources_single_join_any_resource_count(spark):
    """cancer_annotation_resources joins the broadcast resource lookup
    ONCE regardless of how many resources are registered — the rewrite of
    the reference's per-resource groupBy loop (resources_per_model_util
    .py:94-112, O(#resources) passes). Join-operator count in the
    optimized plan of the per-model molecular aggregation must not grow
    with the resource count."""
    from pdcm_etl_spark.transforms.molecular_data import (
        molecular_aggregates_per_model,
    )

    md = spark.createDataFrame(
        [(1, "GENE1"), (1, "GENE2"), (2, "GENE3")],
        "molecular_characterization_id bigint, symbol string",
    )
    mm = spark.createDataFrame(
        [(1, 10, "mutation"), (2, 20, "mutation")],
        "mol_char_id bigint, model_id bigint, molchar_type string",
    )
    molchar = spark.createDataFrame(
        [(1, "ENA:1"), (2, None)], "id bigint, raw_data_url string"
    )

    def resources(n):
        rows = [(f"GENE{g}", f"R{i}", "Gene", "") for i in range(n) for g in (1, 2, 3)]
        return spark.createDataFrame(rows, "entry string, resource string, type string, link string")

    def n_joins(res_df):
        out = molecular_aggregates_per_model({"mutation": md}, molchar, mm, res_df)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Join ")

    assert n_joins(resources(2)) == n_joins(resources(10))


def test_quality_percentile_has_no_unpartitioned_window(spark, sf_dir, queries):
    """The top-decile filter must not plan a single-partition global
    window sort (the round-1 scale-killer): no 'Window' operator with an
    empty partition spec; the rank window partitions by the metric."""
    df = queries["quality_percentile"](spark, sf_dir)
    plan = _plan(df)
    import re

    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in plan"


def test_text_chunk_has_no_shuffle(spark, sf_dir, queries):
    """Chunking is per-row: the plan must be Scan → Project/Generate with
    no Exchange (the _docs repartition is gated off when splits ≥ cores,
    so build the operator directly on the raw table)."""
    from pdcm_etl_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = _plan(chunk_documents(docs))
    assert "Exchange" not in plan, plan


def test_jaccard_pairs_bucketed_no_freq_join(spark):
    """Round-4 jaccard_pairs plan: candidate pairs come from in-bucket
    generation after a groupBy on the shingle — no data-sized frequency
    join before the pair aggregation (round-2 verdict item 5) and no
    data-sized broadcast. Exactly THREE joins: the hot-shingle anti-join
    guard (pre-collect, keeps aggregation buffers bounded — round-3
    advice) + the two doc-level size attachments; the guard join must be
    LeftAnti, never a nested loop."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.operators.dedup import jaccard_pairs, shingles

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f g h word"), F.col("id") % 7).alias("text"),
    )
    # r11: the candidate core shares its multi-consumer intermediates
    # (operators/sharing.py), which truncates the printed plan at the
    # share boundary — assert the LOGICAL shape with sharing off (same
    # plan, no boundary), then pin the boundary itself with sharing on.
    with _unshared():
        plan = _plan(
            jaccard_pairs(shingles(docs), min_bp=1000, max_shingle_freq=50),
            mode="simple",
        )
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                   "BroadcastNestedLoopJoin", "CartesianProduct"))
    n_anti = plan.count("LeftAnti")
    # 2 size joins + the anti-guard (whose subtree prints once per branch
    # in the static plan; with sharing on, reuse is by stored blocks)
    assert n_anti >= 1 and n_joins - n_anti == 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # guard ordering: the anti-join must sit BELOW the posting-list
    # collect (child lines print after the parent aggregate) so no
    # aggregation buffer ever holds an unguarded posting list
    first_collect = plan.index("partial_collect_list")
    assert "LeftAnti" in plan[first_collect:], plan
    # sharing on (the default): the pair explosion and both size probes
    # must read the bucket table from the share boundary, not re-run
    # the scan→shingle→guard pipeline per consumer (r11 fix: SIX
    # documents scans per call without it)
    shared_plan = _plan(
        jaccard_pairs(shingles(docs), min_bp=1000, max_shingle_freq=50),
        mode="simple",
    )
    assert "Scan ExistingRDD" in shared_plan, shared_plan
    # without the guard there is no anti-join: just the two size joins
    with _unshared():
        no_guard = _plan(
            jaccard_pairs(shingles(docs), min_bp=1000, max_shingle_freq=None),
            mode="simple",
        )
    n_joins_ng = sum(no_guard.count(j) for j in
                     ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins_ng == 2, no_guard


def test_minhash_lsh_plan_shape(spark):
    """Round-4 pin (round-3 verdict item 5 — confirm the 1.52× r3 wall
    delta was host noise, by plan): the LSH candidate stage must show

    - exactly ONE Generate: the bands-explode over 1-row-per-doc
      signatures (never a per-permutation explode of the shingle table);
    - map-side partial mins for the signature groupBy (the shuffle moves
      num_perm longs per (partition, id), not raw shingle hashes);
    - an equi bucket join on (band, band-hash) — no BroadcastNestedLoop,
      no CartesianProduct anywhere in the pipeline."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f g h word"), F.col("id") % 7).alias("text"),
    )
    cands = lsh_candidate_pairs(minhash_signatures(shingles(docs)), bands=8)
    plan = _plan(cands, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the band explode constant-folds sequence(0,7) to an UnsafeArrayData
    # literal — it must explode the 1-row-per-doc signature frame
    assert "Generate explode(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" in plan, plan
    # map-side combine for the signature mins (shuffle = num_perm longs
    # per (partition, id), not raw shingle hashes); no permutation explode
    assert "partial_min" in plan, plan
    """merge_keyed_aggregates = union (no barrier) + ONE hash aggregate;
    N inputs must not produce N exchanges."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.functions.joins import merge_keyed_aggregates

    base = spark.range(100).select(F.col("id").alias("k"))
    aggs = [
        base.groupBy("k").agg(F.count(F.lit(1)).alias(f"c{i}")) for i in range(5)
    ]
    merged = merge_keyed_aggregates(aggs, "k")
    plan = _plan(merged)
    # exchanges: one per input groupBy + exactly one for the merged agg
    assert plan.count("Exchange") <= 6, plan


def test_scd2_merge_join_decomposition(spark, sf_dir, queries):
    """r11: the full-outer merge join is computed ONCE behind a share
    boundary and its three branch filters (keep / close / insert)
    replay stored blocks — the old Catalyst decomposition re-ran the
    join (and both input scans) per branch. With sharing off
    the per-branch decomposition must still hold: only equi joins, one
    per branch, no nested loop."""
    plan = _unshared_plan(queries["scd2_merge"], spark, sf_dir,
                          mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 3, plan
    # sharing on (default): the branches read the one materialized join
    shared_plan = _plan(queries["scd2_merge"](spark, sf_dir),
                        mode="simple")
    assert "Scan ExistingRDD" in shared_plan, shared_plan
    n_joins_shared = sum(shared_plan.count(j) for j in
                         ("SortMergeJoin", "ShuffledHashJoin",
                          "BroadcastHashJoin"))
    assert n_joins_shared == 0, shared_plan


def test_salted_join_spreads_hot_keys(spark, sf_dir, queries):
    """The salted join must keep the salt column in the join key (the
    whole point: hot keys spread over salt_buckets reducers)."""
    plan = _plan(queries["join_salted_skew"](spark, sf_dir))
    assert "__salt" in plan, plan


def test_semantic_dedup_joins_within_cluster_only(spark, sf_dir, queries):
    """No cartesian: the pair scan must be an equi join on the cluster id."""
    plan = _plan(queries["dedup_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_paragraph_dedup_no_global_sort(spark, sf_dir, queries):
    """First-occurrence is the skew-safe min(struct) partial aggregate
    + shuffle-hash join-back (round-11): no digest-partitioned
    row_number window left in the plan (a corpus-hot segment would
    single-task-sort it), the join must be ShuffledHashJoin (both
    sides data-sized — a broadcast would OOM at 100 TB), and no
    nested-loop joins anywhere."""
    import re

    plan = _plan(queries["dedup_paragraph"](spark, sf_dir))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in plan"
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_domain_mix_rate_table_broadcasts(spark, sf_dir, queries):
    """The per-domain rate table must reach the fact side as a broadcast
    (domain cardinality ≪ rows); the hash membership filter is map-side.
    The only unpartitioned window runs over the domain-COUNT table —
    metadata-sized by construction."""
    plan = _plan(queries["sample_domain_mix"](spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_inverted_index_topk_windows_are_two_level(spark, sf_dir, queries):
    """The per-term top-k must run as the two-level (term, doc-range
    bucket) scheme: the heavy first window partitions by term AND the
    sub-bucket (parallel under hot stop-terms); only the survivor window
    (≤ k·buckets rows per term) partitions by term alone. No
    unpartitioned window anywhere."""
    import re

    plan = _plan(queries["inverted_index"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\((.*?)\)", plan)
    assert specs, "no window in plan"
    assert any("__b" in s for s in specs), f"bucketed first window missing: {specs}"
    # Spark's rank-limit pushdown must bound both windows' state
    assert "WindowGroupLimit" in plan


def test_unigram_lm_score_single_word_join(spark, sf_dir, queries):
    """One corpus-words × vocabulary equi join, no nested-loop joins,
    no Python UDF in the plan."""
    plan = _plan(queries["unigram_lm_score"](spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_zorder_layout_is_map_side_plus_one_agg(spark, sf_dir, queries):
    """The Morton interleave and file assignment must be pure codegen'd
    projection (no window, no join, no sort); the only shuffle is the
    final per-file statistics aggregation with a map-side partial."""
    plan = _plan(queries["zorder_layout"](spark, sf_dir), mode="simple")
    assert "Window" not in plan and "Sort" not in plan and "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan


def test_edit_distance_pairs_blocked_equi_join(spark, sf_dir, queries):
    """Candidate generation must be an equi join on the (prefix, length
    bucket) block key — never a cartesian text×text scan — and the
    hot-block guard must appear as a LeftAnti join before pairing.
    (Shape asserted with sharing off — the guard now sits
    behind the r11 share boundary; see _unshared.)"""
    plan = _unshared_plan(queries["dedup_edit_distance"], spark, sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_funnel_stages_user_keyed_joins_only(spark, sf_dir, queries):
    """Every stage constraint is a user-keyed equi join around a
    map-side-combined MIN aggregation; no history window, no
    nested-loop joins, no Python."""
    plan = _plan(queries["funnel_stages"](spark, sf_dir), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan, plan


def test_cohort_retention_all_shuffles_keyed(spark, sf_dir, queries):
    """Cohort assignment and offset counts shuffle on the user id /
    (cohort, offset) pair only — no window over full histories, no
    nested-loop joins."""
    plan = _plan(queries["cohort_retention"](spark, sf_dir), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_triangle_count_all_joins_keyed(spark, sf_dir, queries):
    """Wedge generation and closure are node-keyed equi joins — never a
    cartesian/nested-loop scan — and no window appears anywhere."""
    plan = _plan(queries["triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_itemset_pairs_guarded_basket_join(spark, sf_dir, queries):
    """The basket-size guard must appear as a LeftAnti join before the
    in-basket pair self-join, and the only non-equi operator allowed is
    the one-row total broadcast. (Shape asserted with sharing off — the
    guard sits behind the r11 share boundary.)"""
    plan = _unshared_plan(queries["itemset_pairs"], spark, sf_dir)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_gapfill_single_forward_fill_window(spark, sf_dir, queries):
    """Calendar expansion is generated (sequence+explode from the tiny
    span aggregate) and forward fill is ONE per-series window — no
    cartesian calendar join, no extra windows."""
    plan = _plan(queries["timeseries_gapfill"](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert "Generate" in plan, plan  # sequence+explode calendar


def test_anomaly_iqr_rank_window_and_keyed_joins(spark, sf_dir, queries):
    """One per-group rank window; quartile extraction and the flag join
    are group-keyed equi joins."""
    plan = _plan(queries["anomaly_iqr"](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_pareto_frontier_bounded_windows(spark, sf_dir, queries):
    """The in-bucket prefix min partitions by the bucket; the only
    unpartitioned window runs over the n_buckets-row aggregate. No
    nested-loop dominance join anywhere (that is the oracle's job)."""
    plan = _plan(queries["pareto_frontier"](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Window") == 2, plan


def test_containment_pairs_same_guarded_core_as_jaccard(spark, sf_dir, queries):
    """Containment reuses the guarded in-bucket candidate core: the
    stop-shingle anti-join must sit below the posting-list collect.
    (Shape asserted with sharing off — the guarded core sits
    behind the r11 share boundary.)"""
    plan = _unshared_plan(
        queries["dedup_containment"], spark, sf_dir, mode="simple"
    )
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    first_collect = plan.index("partial_collect_list")
    assert "LeftAnti" in plan[first_collect:], plan


def test_bucket_cojoin_zero_exchange(spark, sf_dir, queries):
    """The bucketed fact-fact join + same-key aggregation must plan with
    ZERO Exchange: both scans read the bucketed layout (the shuffle was
    paid once at write time) and the merge join + aggregate run on that
    distribution directly."""
    plan = _plan(queries["bucket_cojoin"](spark, sf_dir), mode="simple")
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan, plan


def test_sessionize_batch_single_user_shuffle(spark, sf_dir, queries):
    """The lag + running-sum windows share one user-keyed partitioning:
    exactly one hashpartitioning Exchange feeds the window pair (the
    final per-(user, session) aggregation reuses it map-side)."""
    plan = _plan(queries["sessionize_batch"](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "partial_" in plan, plan


def test_ivm_merge_is_union_plus_one_agg(spark, sf_dir, queries):
    """Snapshot ⊕ delta merges with a union + ONE keyed aggregation —
    no join, no window."""
    plan = _plan(queries["ivm_merge"](spark, sf_dir), mode="simple")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "Union" in plan, plan


def test_bloom_prune_probe_is_map_side(spark, sf_dir, queries):
    """The bloom probe must be scan-side arithmetic: xxhash64 + map
    lookup against the ONE-ROW broadcast blob, then the exact semi-join.
    No cartesian against anything data-sized (the single BNLJ is the
    1-row blob broadcast)."""
    plan = _plan(queries["bloom_prune_join"](spark, sf_dir), mode="simple")
    assert "xxhash64" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_grouped_topk_single_window(spark, sf_dir, queries):
    """Per-group top-k is one partitioned rank window + filter — no
    join, no global sort — and the rank<=k limit must push MAP-SIDE
    (a Partial WindowGroupLimit below the exchange), so each scan task
    forwards at most k rows per group instead of whole groups."""
    plan = _plan(queries["grouped_topk"](spark, sf_dir), mode="simple")
    assert plan.count("Window [") == 1, plan
    assert "Join" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    partial = plan.index("WindowGroupLimit")
    assert "Partial" in plan[partial:], plan


def test_multimodal_dedup_shuffles_digests_only(spark, sf_dir, queries):
    """Payload dedup must aggregate on the digest — the payload bytes
    must not appear in the exchange: project before the partial agg."""
    plan = _plan(queries["multimodal_dedup"](spark, sf_dir), mode="simple")
    assert "partial_" in plan, plan
    assert "Join" not in plan, plan


def test_language_mix_one_agg_plus_broadcast_total(spark, sf_dir, queries):
    """One corpus aggregation; the total joins back as a broadcast
    one-row table — Catalyst folds the constant-key join into a single
    one-row BroadcastNestedLoopJoin, which is the intended shape (never
    a collect, never a data-sized window). (The per-language aggregate
    sits behind the r11 share boundary — both consumers replay one
    corpus pass; pinned with sharing off.)"""
    plan = _unshared_plan(
        queries["corpus_language_mix"], spark, sf_dir, mode="simple"
    )
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmeans_broadcast_assign_hash_join_no_bnlj(spark, sf_dir):
    """The large-k assignment path must join the centroid table as a
    BroadcastHASHJoin on the group key — the documented trap is a
    constant-key/single-row build side degenerating into
    BroadcastNestedLoopJoin (r4 verdict item 1). Also pins that the
    from_json plan-literal is gone from this path: the centroids travel
    as a broadcast relation, not plan bytes."""
    from pdcm_etl_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = kmeans_assign(emb, k=8, iterations=1, assign_method="broadcast")
    plan = _plan(df, mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "from_json" not in plan.lower(), plan


def test_kmeans_auto_switches_to_broadcast_above_threshold(spark, sf_dir):
    """auto = literal at small k, broadcast above KMEANS_BROADCAST_K."""
    from pdcm_etl_spark.operators.similarity import (
        KMEANS_BROADCAST_K,
        kmeans_assign,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    small = _plan(kmeans_assign(emb, k=4, iterations=1), mode="simple")
    assert "BroadcastHashJoin" not in small  # literal path: no join at all
    n = emb.count()
    big_k = min(n, KMEANS_BROADCAST_K + 44)
    if big_k > KMEANS_BROADCAST_K:
        big = _plan(
            kmeans_assign(emb, k=big_k, iterations=1), mode="simple"
        )
        assert "BroadcastHashJoin" in big


def test_cc_star_rounds_beat_diameter_on_path_graph(spark):
    """Alternating star components must converge in O(log² n) rounds on
    the adversarial long-path graph (diameter 127 → single digits) and
    match min-label propagation row-for-row — the r4 verdict's
    'adversarial diameter' property."""
    from pdcm_etl_spark.operators.graph import _cc_star, connected_components

    n = 128
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint"
    )
    star_labels, rounds = _cc_star(path, max_iterations=200)
    got = sorted(map(tuple, star_labels.collect()))
    want = sorted(
        map(tuple, connected_components(path, max_iterations=200).collect())
    )
    assert got == want
    assert got[0] == (0, 0) and got[-1] == (n - 1, 0)
    assert rounds <= 12, f"star took {rounds} rounds on diameter {n - 1}"


def test_cc_star_matches_minlabel_on_dup_ball_and_isolates(spark):
    from pdcm_etl_spark.operators.graph import _cc_star, connected_components

    edges = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12), (20, 21)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    nodes = spark.createDataFrame([(i,) for i in range(25)], "id bigint")
    star_labels, rounds = _cc_star(e, nodes=nodes)
    got = sorted(map(tuple, star_labels.collect()))
    want = sorted(
        map(tuple, connected_components(e, nodes=nodes).collect())
    )
    assert got == want
    assert rounds <= 3  # dup balls are shallow


def test_heavy_hitters_cms_contract(spark, sf_dir):
    """CMS one-sided error: estimate >= exact for every reported term,
    and within the eps bound — the sketch contract the oracle pins."""
    from pdcm_etl_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    rows = heavy_hitters(docs, k=10, eps=0.001).collect()
    assert len(rows) == 10
    assert all(r["cms_est_ok"] for r in rows)
    assert all(r["cms_within_eps"] for r in rows)
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_approx_quantiles_single_group_shuffle_and_bounds(spark, sf_dir):
    """One exchange keyed on the group serves window + aggregate; the
    percentile_approx estimate sits inside its rank-error bound."""
    from pdcm_etl_spark.operators.sketches import approx_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = approx_quantiles(li, "l_extendedprice", "l_returnflag")
    plan = _plan(df, mode="simple")
    assert plan.count("Exchange") <= 2, plan  # group shuffle (+AQE read)
    rows = df.collect()
    assert rows and all(r["p50_ok"] and r["p95_ok"] for r in rows)
    for r in rows:
        assert r["p50_cents"] <= r["p95_cents"]


def test_jaccard_sizes_joins_never_broadcast_the_pair_facts(spark, sf_dir, queries):
    """The per-doc size joins must be shuffled: Catalyst's static
    estimate through the two pair Generates doesn't model fan-out and
    (observed at the sf1 stress sweep) elects to BROADCAST the pair
    intersection table — an 8.7 GiB hard abort on duplicate-heavy data.
    _size_sides pins SHUFFLE_HASH on both size joins for jaccard AND
    containment (shared core)."""
    for name in ("dedup_ngram_jaccard", "dedup_containment",
                 "dedup_winnow"):
        plan = _plan(queries[name](spark, sf_dir), mode="simple")
        assert plan.count("ShuffledHashJoin") >= 2, (name, plan)
        for key in ("BroadcastHashJoin [id_a", "BroadcastHashJoin [id_b"):
            assert key not in plan, (name, plan)


def test_rolling_window_one_shuffle_no_join(spark, sf_dir, queries):
    """The trailing RANGE-frame aggregate is ONE user-keyed exchange
    feeding one Window — never the naive range self-join (which plans
    as a nested loop and explodes at any scale)."""
    plan = _plan(queries["rolling_window"](spark, sf_dir), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window [") == 1, plan
    assert "Join" not in plan, plan


def test_interval_overlap_join_bucketed_equi_no_bnlj(spark, sf_dir, queries):
    """Interval×interval overlap must meet on the (user, bucket) equi
    key — never a BroadcastNestedLoopJoin/CartesianProduct from the raw
    overlap inequality — and the first-shared-bucket dedup rule must
    keep the plan free of a pair-wide Distinct aggregate."""
    plan = _plan(queries["interval_overlap_join"](spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "__bucket" in plan, plan
    # no pair-wide distinct: the only aggregates allowed are none
    assert "HashAggregate" not in plan, plan


def test_key_skew_profile_topn_heap_and_scalar_totals(spark, sf_dir, queries):
    """Skew diagnostics collapse to key cardinality (partial agg), the
    corpus totals re-enter as a ONE-row broadcast (a single 1-row BNLJ
    is that shape — never a data-sized window), and top-N is a
    TakeOrderedAndProject per-partition heap, not a global sort."""
    plan = _plan(queries["key_skew_profile"](spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan
    assert "Sort " not in plan, plan


def test_partition_prune_scan_prunes_at_planning_time(spark, sf_dir, queries):
    """The one-week filter must live ENTIRELY in the scan's
    PartitionFilters — directory pruning decided before any task runs.
    DataFilters must be empty (nothing re-checked row-wise) and no
    separate Filter node may touch the partition column."""
    plan = _plan(queries["partition_prune"](spark, sf_dir), mode="simple")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    pf = scan.split("PartitionFilters:")[1]
    assert "event_date" in pf and "2024-01-08" in pf and "2024-01-14" in pf, scan
    assert "DataFilters: []" in scan, scan
    assert "Filter (" not in plan or "event_date" not in plan.split(
        "FileScan"
    )[0], plan


def test_winnow_hash_stream_never_explodes(spark, sf_dir, queries):
    """Winnowing's k-gram hash stream and window minima must stay array
    expressions inside the scan projection: every Generate explodes
    over SELECTED window minima (the candidate core re-derives the
    posting branch, so the fps explode appears once per branch — fine:
    each is ~n/w elements). What must NEVER happen is a Generate whose
    input is the raw k-gram hash transform itself — that would put ≈
    text-length rows per doc on the row stream. The md5/conv hashing
    must stay inside Project nodes. (Shape asserted with sharing off —
    the hash-stream projection sits behind the r11 share boundary.)"""
    plan = _unshared_plan(
        queries["dedup_winnow"], spark, sf_dir, mode="simple"
    )
    for line in plan.splitlines():
        if "Generate " in line:
            assert "md5(" not in line and "conv(" not in line, line
    assert "array_min" in plan and "md5(" in plan, plan


def test_prefix_filter_verify_joins_shuffled_no_bnlj(spark, sf_dir, queries):
    """PPJoin plan shape: the two full-array verify joins must be
    SHUFFLE_HASH (same broadcast-the-pair-fact hazard as _size_sides:
    Catalyst can't estimate candidate fan-out through the bucket
    Generates), and the prefix-bucket candidate generation must never
    degrade to a BroadcastNestedLoopJoin/CartesianProduct. The prefix
    slice must happen BEFORE the posting explode (the Generate's input
    is slice(toks...), so only prefix elements ever become rows)."""
    plan = _plan(queries["dedup_prefix_filter"](spark, sf_dir), mode="simple")
    assert plan.count("ShuffledHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for key in ("BroadcastHashJoin [id_a", "BroadcastHashJoin [id_b"):
        assert key not in plan, plan
    assert any(
        "Generate " in line and "slice(" in line
        for line in plan.splitlines()
    ), plan


def test_token_budget_select_two_level_windows_broadcast_offsets(
    spark, sf_dir, queries
):
    """The data-sized running sum must be the TWO-LEVEL decomposition:
    every Window whose input is row-scale partitions on (domain AND the
    quality bucket) — a window keyed on domain alone would sort a whole
    hot domain in one task. The domain-only window exists but only over
    the bucket-totals side, which re-enters on a BROADCAST join."""
    plan = _plan(queries["token_budget_select"](spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert len(win_lines) == 2, plan
    # the within-bucket (data-sized) window keys on domain AND bucket
    assert any("__qb" in l for l in win_lines), plan


def test_snapshot_diff_shuffles_digests_not_rows(spark, sf_dir, queries):
    """Only (key, 16-byte digest) may cross the diff's exchanges: the
    md5 projection must sit BELOW each Exchange (map-side), so nothing
    above the full-outer join ever references the compared columns —
    the exchange cost is key+digest width regardless of entity width."""
    plan = _plan(queries["snapshot_diff"](spark, sf_dir), mode="simple")
    lines = plan.splitlines()
    join_at = next(
        i for i, l in enumerate(lines) if "FullOuter" in l
    )
    for l in lines[:join_at]:
        assert "o_orderpriority" not in l and "o_orderstatus" not in l, l
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sorted_neighborhood_no_global_sort(spark, sf_dir, queries):
    """Global ranks must come from the two-level decomposition: every
    data-sized Sort lives under a bucket-partitioned Window; the one
    UNPARTITIONED window runs over the bucket-totals aggregate (tiny),
    which re-enters on a broadcast join. No rank-wide Distinct: the
    block pairing is exactly-once by construction. (Shape asserted
    with sharing off — the rank pipeline sits behind the r11
    share boundary.)"""
    plan = _unshared_plan(
        queries["sorted_neighborhood"], spark, sf_dir, mode="simple"
    )
    lines = plan.splitlines()
    # every data-sized ranking window is bucket-partitioned (the rank
    # subtree appears once per self-join side — each copy must be)
    rn = [l for l in lines if "row_number() windowspecdefinition" in l]
    assert rn and all("__b" in l for l in rn), plan
    # the only single-partition exchanges feed the bucket-totals
    # offsets window, whose input is the count aggregate (tiny)
    sp = plan.count("Exchange SinglePartition")
    assert sp == len(rn), plan  # one offsets pass per rank subtree copy
    assert "HashAggregate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the bucket-offsets joins
    # the PAIR join must be shuffled: its right side sits behind the
    # block-explode Generate, whose size Catalyst underestimates (the
    # jaccard sf1 broadcast-abort hazard) — never broadcast a pair side
    assert "ShuffledHashJoin [__blk" in plan, plan
    assert "BroadcastHashJoin [__blk" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_crosstab_lift_single_data_scan(spark, sf_dir, queries):
    """The marginal/total branches must read the MATERIALIZED cell
    table, not re-derive the aggregation from the file scan — without
    the eager checkpoint the plan showed 4 FileScans of the data."""
    df = queries["crosstab_lift"](spark, sf_dir)
    plan = _plan(df, mode="simple")
    assert "FileScan parquet" not in plan, plan
    rows = df.collect()
    assert rows and all(r["n"] <= r["row_n"] and r["n"] <= r["col_n"]
                        for r in rows)


def test_linreg_single_pass_partial_agg(spark, sf_dir, queries):
    # the five sufficient statistics come from ONE keyed aggregation
    # with map-side partials — one scan, one shuffle, no second pass
    simple = _plan(queries["linreg_group"](spark, sf_dir), mode="simple")
    assert simple.count("FileScan parquet") == 1
    assert simple.count("Exchange") == 1
    assert "partial_sum" in simple or "partial_count" in simple


def test_chi_square_broadcast_marginals_single_cell_scan(
    spark, sf_dir, queries
):
    # cells checkpoint once; marginals + totals re-derive from the cells
    # and re-enter by broadcast — never a second data scan or SMJ
    simple = _plan(queries["chi_square_assoc"](spark, sf_dir), mode="simple")
    assert simple.count("FileScan parquet") == 0  # cells are checkpointed
    assert "SortMergeJoin" not in simple
    assert "BroadcastNestedLoopJoin" not in simple or (
        # the final one-row total crossJoin is a bounded broadcast NLJ
        simple.count("BroadcastNestedLoopJoin") <= 1
    )


def test_benford_bounded_agg_broadcast_total(spark, sf_dir, queries):
    # 9-group aggregation + one-row broadcast total: no SMJ, one scan
    simple = _plan(queries["benford_profile"](spark, sf_dir), mode="simple")
    # digit counts checkpoint (≤9 rows): the broadcast total derives
    # from them — the data is scanned ONCE
    assert simple.count("FileScan parquet") == 0
    assert simple.count("Scan ExistingRDD") <= 2
    assert "SortMergeJoin" not in simple


def test_gini_rank_and_agg_share_one_shuffle(spark, sf_dir, queries):
    # the rank window and the per-key aggregation both key on lang —
    # Spark reuses the window's hash partitioning for the agg, so the
    # whole query is ONE data Exchange (plus the docs-spread repartition)
    simple = _plan(queries["gini_concentration"](spark, sf_dir), mode="simple")
    assert simple.count("Exchange") <= 2
    assert "Window" in simple


def test_dq_check_one_conditional_pass_per_table(spark, sf_dir, queries):
    # 7 rules over 2 fact tables must NOT plan 7 scans: orders appears
    # in the rule pass + the FK probe + its checked-count (3), lineitem
    # in the rule pass + pk pass (2), customer once as broadcast dim
    simple = _plan(queries["dq_check"](spark, sf_dir), mode="simple")
    assert simple.count("FileScan parquet") <= 6
    assert "BroadcastHashJoin" in simple  # FK anti-join broadcasts the dim
    assert "SortMergeJoin" not in simple


def test_sample_weighted_is_topk_heap_no_data_shuffle(
    spark, sf_dir, queries
):
    # A-ES top-k must plan as TakeOrderedAndProject (per-partition
    # heaps), never a global Sort + Exchange of the corpus
    simple = _plan(queries["sample_weighted"](spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in simple
    assert "Sort " not in simple


def test_bfs_no_bnlj_and_no_python(spark, sf_dir, queries):
    simple = _plan(queries["bfs_distance"](spark, sf_dir), mode="simple")
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert "BatchEvalPython" not in simple


def test_bigram_lm_no_positional_self_join_no_python(
    spark, sf_dir, queries
):
    """Bigrams must come out of the word array MAP-SIDE (slice+zip) —
    never a positional self-join of exploded words. Joins in the plan:
    the w1-marginal join + the doc-scoring join, both keyed."""
    simple = _plan(queries["bigram_lm_score"](spark, sf_dir), mode="simple")
    assert "BatchEvalPython" not in simple
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    n_joins = sum(simple.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins <= 3, simple  # marginal + scoring (+1 AQE variance)


def test_quantile_normalize_no_global_sort(spark, sf_dir, queries):
    """Global order statistics come from the range-bucket decomposition:
    every data-sized ranking window partitions by the bucket or the
    group; the only unpartitioned window is over the bucket-totals
    aggregate (bounded at n_buckets rows)."""
    plan = _plan(queries["quantile_normalize"](spark, sf_dir), mode="simple")
    lines = plan.splitlines()
    rn = [l for l in lines if "row_number() windowspecdefinition" in l]
    assert rn and all(("__bk" in l) or ("lang" in l) for l in rn), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin"
    ) <= 1  # the 1-row total crossJoin broadcast only
    # the order-stat join is keyed, never a broadcast of the data side
    assert "BroadcastHashJoin [__idx" not in plan, plan


def test_er_score_attribute_joins_keyed(spark, sf_dir, queries):
    simple = _plan(queries["er_score_pairs"](spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple
    assert "BatchEvalPython" not in simple


def test_weighted_sample_grouped_partitioned_window(spark, sf_dir, queries):
    # per-group top-k must rank under a GROUP-partitioned window —
    # never an unpartitioned (single-task) global sort
    plan = _plan(queries["sample_weighted_grouped"](spark, sf_dir))
    import re

    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in plan"
    simple = _plan(
        queries["sample_weighted_grouped"](spark, sf_dir), mode="simple"
    )
    assert "BatchEvalPython" not in simple


def test_join_cardinality_never_executes_the_join(spark, sf_dir, queries):
    """The estimate must reduce BOTH sides to key cardinality before
    they meet: the key join's inputs are aggregates (HashAggregate
    below the join), and the plan never joins the raw fact rows."""
    simple = _plan(
        queries["join_cardinality_estimate"](spark, sf_dir), mode="simple"
    )
    assert "CartesianProduct" not in simple
    # the only BNLJ allowed: the two bounded 1-row total crossJoins
    assert simple.count("BroadcastNestedLoopJoin") <= 2
    # the key join consumes aggregated counts — 'ca'/'cb' columns exist
    # only after the per-key aggregation
    assert "partial_count" in simple


def test_ann_ivf_persisted_serve_plan_has_no_training(
    spark, sf_dir, queries
):
    # the serve path must read the SAVED index: two parquet scans
    # (centroids + bucketed cells) and zero k-means artifacts — no
    # posexplode (centroid update), no decimal(28,9) sums (the exact
    # mean accumulator), no pmod (the floor-division idiom of the
    # trainer). Training happens at build time, not in the query.
    df = queries["ann_ivf_persisted"](spark, sf_dir)
    plan = _plan(df)
    low = plan.lower()
    assert "posexplode" not in low
    assert "decimal(28,9)" not in low
    assert "pmod" not in low
    # the persisted layouts actually feed the plan
    assert "centroids" in low
    assert "ivf_cells_" in low
    # index side joins the broadcast probe table — the corpus never
    # shuffles at serve time
    assert "broadcasthashjoin" in low
    assert "sortmergejoin" not in low


def _exchanges(df) -> int:
    p = _plan(df, mode="simple")
    return sum(
        1 for ln in p.splitlines()
        if "Exchange" in ln and "Reused" not in ln
    )


def test_winsorize_single_group_shuffle(spark, sf_dir, queries):
    # rank + group count + both boundary extractions stack as four
    # Window operators over ONE hashpartitioning(key) Exchange — the
    # operator's whole one-shuffle contract
    df = queries["winsorize_group"](spark, sf_dir)
    assert _exchanges(df) == 1
    plan = _plan(df)
    assert "SortMergeJoin" not in plan and "HashJoin" not in plan


def test_link_predict_wedges_never_all_pairs(spark, sf_dir, queries):
    plan = _plan(queries["link_predict_cn"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # top-k is served by TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "pythonudf" not in plan.lower()


def test_attribution_touch_bounded_shuffles_no_join(
    spark, sf_dir, queries
):
    # user-keyed session windows + (user, sess) frame windows + melt +
    # touch-type agg: no join anywhere, and the shuffle count stays a
    # small constant (independent of data/config)
    df = queries["attribution_touch"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 4
    assert "pythonudf" not in plan.lower()


def test_ann_ivf_delta_refresh_has_no_training(spark, sf_dir, queries):
    # refresh = broadcast centroid join + map-side argmin; serve = the
    # persisted-index plan. No k-means artifacts anywhere.
    df = queries["ann_ivf_delta_append"](spark, sf_dir)
    low = _plan(df).lower()
    assert "posexplode" not in low
    assert "decimal(28,9)" not in low
    assert "pmod" not in low
    assert "sortmergejoin" not in low


def test_ks_drift_ecdf_is_bucket_decomposed(spark, sf_dir, queries):
    """The global ECDF must come from the range-bucket decomposition:
    the two DATA windows partition (by __bk for the running counts, by
    m for the tie-group max); the ONLY unpartitioned window is the
    bucket-offset cumsum ORDERED by __bk over the ≤ n_buckets-row
    totals aggregate (bounded by construction, joined back by
    broadcast). No global data sort anywhere."""
    import re

    plan = _plan(queries["ks_drift"](spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    specs = [
        m.group(1)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)
    ]
    assert len(specs) >= 3
    for spec in specs:
        first = spec.split(",")[0].strip()
        # partitioned data windows lead with a partition column (no
        # ASC); the bounded offset window leads with "__bk ... ASC"
        assert first.startswith(("__bk", "m#")), spec


def test_attribution_position_bounded_shuffles_no_join(
    spark, sf_dir, queries
):
    # sessionization + frame windows + pre-touch ranking all stack on
    # the user / (user, sess) partitionings; credits are pure column
    # arithmetic; 'direct' unions in from the same frames — no join
    df = queries["attribution_position"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 6
    assert "pythonudf" not in plan.lower()


def test_grouped_gain_curve_windows_share_group_exchange(
    spark, sf_dir, queries
):
    # rank + size + positive-total windows ride ONE key Exchange; the
    # (key, bucket) agg and the bounded cumulative window add at most
    # two more — never a join, never a global sort
    df = queries["grouped_gain_curve"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 3
    assert "pythonudf" not in plan.lower()


def test_chisq_drift_single_bounded_aggregation(spark, sf_dir, queries):
    # ONE (category) aggregation collapses the data; totals re-enter by
    # broadcast — no window over raw rows, no second scan join strategy
    # other than the broadcast cross
    df = queries["chisq_drift"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert _exchanges(df) <= 2
    # totals re-derive from the checkpointed cell table — the raw data
    # is scanned exactly once (inside the checkpoint, not this plan)
    assert "FileScan parquet" not in _plan(df, mode="simple")


def test_ngram_novelty_no_self_join(spark, sf_dir, queries):
    # first-occurrence is a WINDOW over the shingle partitioning, not a
    # join of the shingle table against its own aggregate — one shingle
    # Exchange, one doc agg, one keyed join against the id spine only
    df = queries["ngram_novelty"](spark, sf_dir)
    plan = _plan(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Generate ") <= 1  # the shingle explode, once
    # first-occurrence is a window over the shingle partitioning
    assert "Window [min(" in plan
    assert "pythonudf" not in plan.lower()


def test_rrf_fusion_three_windows_one_group_exchange(
    spark, sf_dir, queries
):
    # both ranker windows and the fused top-n filter share the single
    # group-keyed Exchange (the winsorize window-over-window idiom)
    df = queries["rrf_fusion"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) == 1
    assert "pythonudf" not in plan.lower()


def test_incremental_flagship_base_scan_partition_pruned(
    spark, sf_dir, queries
):
    # the provider drop on the base side must be PartitionFilters (the
    # base materialization is written partitionBy(data_source)), so at
    # scale the other providers' rows are never read for the merge
    plan = _plan(queries["etl_search_index_incremental"](spark, sf_dir))
    assert "PartitionFilters: [" in plan


def test_weighted_median_two_level_bucketed_window(spark, sf_dir, queries):
    # the heavy running-weight window partitions by (key, value-bucket)
    # — parallelism keys × n_buckets, never capped by key count (a
    # 3-value key would otherwise sort 1/3 of the data per task); the
    # cross-bucket offsets come back as a BROADCAST join of the bounded
    # per-bucket totals, never a shuffle join
    df = queries["weighted_median_group"](spark, sf_dir)
    plan = _plan(df)
    low = plan.lower()
    assert "broadcasthashjoin" in low
    assert "sortmergejoin" not in low and "shuffledhashjoin" not in low
    assert "pythonudf" not in low
    # the data-sized window must include the bucket in its partition
    # spec (windowspecdefinition(key, __bk, ...) in formatted explain)
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("__bk" in sp and "__m" in sp for sp in specs), specs


def test_concentration_topn_no_second_data_shuffle(spark, sf_dir, queries):
    # per-customer revenue agg (join + groupBy) feeds rank + group agg
    # that share one key Exchange; the top-N sum is a conditional
    # aggregate, never a join back onto the ranked rows
    df = queries["concentration_topn"](spark, sf_dir)
    plan = _plan(df)
    # one Exchange for the revenue groupBy's key, one for the
    # concentration key; the rank window and final agg add none
    assert _exchanges(df) <= 3
    assert "pythonudf" not in plan.lower()


def test_seasonal_anomaly_baseline_broadcast(spark, sf_dir, queries):
    # the (key × 7)-row weekday baseline must come back as a broadcast
    # join — a shuffle join here would re-shuffle the daily aggregate
    # for a bounded dim side
    plan = _plan(queries["seasonal_anomaly"](spark, sf_dir)).lower()
    assert "broadcasthashjoin" in plan
    assert "sortmergejoin" not in plan
    assert "pythonudf" not in plan


def test_user_accumulation_two_bounded_aggs(spark, sf_dir, queries):
    # first-seen decomposition: user-keyed agg + day-keyed agg + the
    # cumulative window — no expanding-window COUNT(DISTINCT), no join
    df = queries["user_accumulation"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 3
    assert "pythonudf" not in plan.lower()


def test_bigram_pmi_topk_cut_not_full_sort(spark, sf_dir, queries):
    # the top-k must be TakeOrderedAndProject (partial per-partition
    # top-k), never a global Sort of the whole pair table
    df = queries["bigram_pmi_topk"](spark, sf_dir)
    plan = _plan(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "pythonudf" not in plan.lower()


def test_split_leakage_audit_single_agg_no_join(spark, sf_dir, queries):
    # fingerprint + fold are map-side; one fingerprint-keyed hash agg
    # with O(n_folds) state; leak filter is a HAVING — no self-join on
    # text, no pair explosion
    df = queries["split_leakage_audit"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) == 1
    assert "pythonudf" not in plan.lower()


def test_mode_group_window_over_aggregate_only(spark, sf_dir, queries):
    # the rank window runs over the (key, value) AGGREGATE (bounded by
    # distinct pairs), sharing its key Exchange with the count agg's
    # output partitioning — never a window over raw rows
    df = queries["mode_group"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 2
    assert "pythonudf" not in plan.lower()


def test_fk_orphan_audit_single_fact_pass(spark, sf_dir, queries):
    # r11: ONE pass over the fact for ALL edges — each dim's distinct
    # keys attach as a broadcast LEFT join hit marker (never a shuffle
    # of the fact), one conditional aggregate computes every counter
    # map-side, and stack() unpivots the single row. The old
    # anti-join-per-edge form scanned the fact 2·K times.
    plan = _plan(
        queries["fk_orphan_audit"](spark, sf_dir), mode="simple"
    ).lower()
    assert plan.count("broadcasthashjoin") == 3, plan  # one per edge
    assert "sortmergejoin" not in plan
    assert "shuffledhashjoin" not in plan
    assert "broadcastnestedloopjoin" not in plan
    assert "pythonudf" not in plan
    # exactly one scan of the fact (lineitem); the other scans are dims
    assert plan.count("filescan") <= 4, plan
    assert "generate" in plan, plan  # the stack() unpivot


def test_source_token_overlap_single_scan_no_join(spark, sf_dir, queries):
    # pair generation is a map-side explode of per-token source SETS
    # and the vocab lookups are windows over the bounded counts frame —
    # ONE corpus scan, ZERO joins (the token self-join lives in the
    # oracle only; a join-based lookup would branch the lineage and
    # re-scan the corpus per branch)
    df = queries["source_token_overlap"](spark, sf_dir)
    plan = _plan(df, mode="simple")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "pythonudf" not in plan.lower()


def test_vocab_accumulation_first_seen_decomposition(spark, sf_dir, queries):
    # token-keyed MIN agg + bounded per-bucket count + cumulative
    # window over <= n_buckets rows; no join, no expanding distinct
    df = queries["vocab_accumulation"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert "pythonudf" not in plan.lower()


def test_churn_summary_single_user_agg(spark, sf_dir, queries):
    # one user-keyed min/max agg, scalar horizon, bounded rollup —
    # no windows over raw data, no joins
    df = queries["churn_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert _exchanges(df) <= 2
    assert "pythonudf" not in plan.lower()


def test_lang_confusion_bounded_agg_share_window(spark, sf_dir, queries):
    # detection is map-side higher-order filters; one (declared,
    # detected) hash agg bounded by langs²; the share window runs over
    # that aggregate — no joins, no Python
    df = queries["lang_confusion"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 2
    assert "pythonudf" not in plan.lower()


def test_dup_cluster_histogram_two_aggs(spark, sf_dir, queries):
    # fingerprint-keyed count then size-keyed count — the histogram is
    # bounded by the largest cluster; no window, no join
    df = queries["dup_cluster_histogram"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert _exchanges(df) == 2
    assert "pythonudf" not in plan.lower()


def test_balanced_downsample_single_class_window(spark, sf_dir, queries):
    # one class-partitioned rank window; the min-class size is a scalar
    # literal (classes-sized collect), so no join comes back
    df = queries["balanced_downsample"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) == 1
    assert "pythonudf" not in plan.lower()


def test_golden_record_merge_two_stacked_aggs(spark, sf_dir, queries):
    # survivorship = two stacked hash aggregations on one key prefix —
    # the struct-min trick carries mode and longest-text without any
    # window or join
    df = queries["golden_record_merge"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert _exchanges(df) <= 2
    assert "pythonudf" not in plan.lower()


def test_decile_migration_one_key_exchange_for_ranks(spark, sf_dir, queries):
    # the (key, id) period-split agg is one shuffle; both rank windows
    # and the final matrix count REUSE the key partitioning (different
    # sort orders, same Exchange) — no self-join of the two periods
    df = queries["decile_migration"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert _exchanges(df) <= 3
    assert "pythonudf" not in plan.lower()


def test_substring_dedup_skew_safe_first_occurrence(spark, sf_dir, queries):
    """Round-11: first-occurrence must be the min(struct) partial agg
    + shuffle-hash join-back — a digest-partitioned row_number window
    would single-task-sort a corpus-hot k-gram's partition. Every
    remaining window is id-partitioned (the islands pass); every join
    is ShuffledHashJoin (both sides data-sized; a broadcast would OOM
    at 100 TB)."""
    import re

    plan = _plan(queries["dedup_substring"](spark, sf_dir))
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in plan"
    assert "row_number" not in plan.lower(), plan
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "pythonudf" not in plan.lower()


def test_substring_scrub_single_doc_join_no_python(spark, sf_dir, queries):
    """The scrub adds exactly one id-keyed join back to the token
    arrays on top of the substring machinery — shuffle-hash pinned
    (document text is data-sized on both sides), the positional cut is
    a codegen higher-order filter, no Python boundary anywhere."""
    plan = _plan(queries["dedup_substring_scrub"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "pythonudf" not in plan.lower()


def test_recall_banded_no_broadcast_of_pair_tables(spark, sf_dir, queries):
    """truth←found is a pair-keyed left join of two data-sized pair
    streams: must shuffle, never broadcast; the band rollup is a
    band-cardinality aggregate (≤5 rows)."""
    plan = _plan(queries["dedup_recall_banded"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "pythonudf" not in plan.lower()


def test_entropy_profile_all_null_column_keeps_row(spark):
    """The per-column global-agg form emits a profile row even for a
    column with zero non-null values (n_distinct 0, NULL entropy) —
    pinned because the r11 single-pass stack-melt experiment silently
    dropped it (the melt was then reverted on measurement: +39%
    executor CPU from the Generate and wider agg keys against an
    illusory scan saving — parquet column pruning already reads each
    profiled column exactly once across the per-column scans)."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.operators.analytics import entropy_profile

    df = spark.range(8).select(
        (F.col("id") % 2).cast("string").alias("a"),
        F.lit(None).cast("string").alias("b"),
    )
    rows = {r["column_name"]: r for r in entropy_profile(df, ["a", "b"]).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["n_values"] == 8 and rows["a"]["n_distinct"] == 2
    assert rows["a"]["entropy_bits"] == 1.0
    assert rows["b"]["n_values"] is None
    assert rows["b"]["n_distinct"] == 0
    assert rows["b"]["entropy_bits"] is None
