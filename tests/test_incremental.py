"""Delta-aware incremental ETL (plans/incremental.py + EntityDag.
incremental_run): the capability the reference's Luigi memoization lacks
(etl/workflow/config.py:4-7 — file-existence skips stages of ONE run; a
new provider drop there invalidates everything and reruns the whole DAG).

Two proofs:
- the incremental flagship equals the full rebuild bit-for-bit (also
  driver-hash-proven: its registry oracle IS the full-rebuild SQL);
- an incremental rerun after a one-module change recomputes ONLY the
  changed module's dependency cone — observed via the recomputed/loaded
  node sets AND poisoned node fns (any clean node that recomputes
  raises).
"""

from pyspark.sql import functions as F


def test_incremental_flagship_equals_full_rebuild(spark, sf_dir):
    from pdcm_etl_spark.plans.incremental import (
        run_etl_search_index_incremental,
    )
    from pdcm_etl_spark.plans.synth import run_etl_search_index

    full = sorted(
        tuple(r) for r in run_etl_search_index(spark, sf_dir).collect()
    )
    inc = sorted(
        tuple(r)
        for r in run_etl_search_index_incremental(spark, sf_dir).collect()
    )
    assert len(full) > 0
    assert inc == full


def test_incremental_flagship_base_merge_is_partition_pruned(
    spark, sf_dir
):
    """The merge drops the delta provider's old rows by PARTITION
    pruning, not a data filter: the base side is written
    partitionBy(data_source), so the scan must carry a PartitionFilters
    entry on data_source — at scale the drop reads zero bytes of the
    other providers' rows."""
    from pdcm_etl_spark.plans.incremental import (
        run_etl_search_index_incremental,
    )

    df = run_etl_search_index_incremental(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*data_source[^\]]*\]", plan)
    assert m, f"no partition filter on data_source:\n{plan[:2000]}"


def test_incremental_run_recomputes_only_changed_cone(
    spark, sf_dir, tmp_path_factory
):
    """One module changes between drops → the rerun recomputes exactly
    that module's dependency cone; every other entity loads from the
    base materialization (poisoned fns prove none executes). The merged
    search_index equals a from-scratch rebuild over the new raw."""
    from pdcm_etl_spark.operators.cdc import snapshot_diff
    from pdcm_etl_spark.plans.dag import build_metadata_dag
    from pdcm_etl_spark.plans.synth import (
        _project_columns,
        synthesize_provider_modules,
    )

    lake = str(tmp_path_factory.mktemp("ilake"))
    raw = synthesize_provider_modules(spark, sf_dir)
    dag1 = build_metadata_dag(spark, raw)
    dag1.materialized_run(lake, targets=["search_index"])

    # the corrected drop: half the model_image rows disappear
    new_raw = dict(raw)
    new_raw["model_image"] = raw["model_image"].filter(
        F.xxhash64("url") % 2 == 0
    )

    # snapshot_diff on the raw modules identifies WHICH inputs changed.
    # A module row is its own identity, but NULL columns never match an
    # equi-join key — so key on a null-safe full-row digest instead.
    def changed_rows(m):
        def keyed(df):
            return df.select(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        *[
                            F.coalesce(F.col(c), F.lit("\x00"))
                            for c in df.columns
                        ],
                    )
                ).alias("row_key"),
                F.lit(1).alias("v"),
            ).drop_duplicates(["row_key"])

        return snapshot_diff(
            keyed(raw[m]), keyed(new_raw[m]), keys=["row_key"]
        ).count()

    assert changed_rows("model_image") > 0
    assert changed_rows("patient") == 0
    changed = {"raw/model_image"}

    dag2 = build_metadata_dag(spark, new_raw)
    expected_dirty = dag2.dirty_downstream(changed)
    assert "search_index" in expected_dirty
    # the cone is SMALL: nothing outside imaging + the final assembly
    assert expected_dirty <= {
        "model_image", "images_json_agg", "model_metadata", "scores",
        "search_index", "search_facet",
    }

    # poison every clean node: recomputing one is a hard failure
    def boom(*_a, **_k):
        raise AssertionError("clean entity recomputed in incremental run")

    for n in dag2.nodes:
        if n not in expected_dirty:
            dag2.nodes[n].fn = boom

    out, recomputed, loaded = dag2.incremental_run(
        lake, changed, targets=["search_index"]
    )
    assert recomputed <= expected_dirty
    assert {"model_image", "images_json_agg", "search_index"} <= recomputed
    assert recomputed.isdisjoint(loaded)
    assert len(recomputed) < len(dag2.nodes)  # strict subset
    assert loaded  # clean entities really served from parquet

    # delta-applied == full rebuild over the new raw
    dag3 = build_metadata_dag(spark, new_raw)
    ref = dag3.run(targets=["search_index"])["search_index"]
    got = sorted(
        tuple(r)
        for r in _project_columns(out["search_index"]).collect()
    )
    want = sorted(
        tuple(r)
        for r in _project_columns(ref).collect()
    )
    assert got == want


def test_incremental_runs_compose_across_consecutive_drops(
    spark, sf_dir, tmp_path_factory
):
    """Two drops in sequence: drop 1 changes model_image, drop 2 changes
    sharing. Each incremental run must serve clean entities from the
    (re-materialized) lake and end bit-equal to a from-scratch rebuild
    over the final raw — the 'consecutive incremental runs compose'
    contract in EntityDag.incremental_run's docstring."""
    from pdcm_etl_spark.plans.dag import build_metadata_dag
    from pdcm_etl_spark.plans.synth import (
        _project_columns,
        synthesize_provider_modules,
    )

    lake = str(tmp_path_factory.mktemp("ilake2"))
    raw = synthesize_provider_modules(spark, sf_dir)
    build_metadata_dag(spark, raw).materialized_run(
        lake, targets=["search_index"]
    )

    raw1 = dict(raw)
    raw1["model_image"] = raw["model_image"].filter(
        F.xxhash64("url") % 2 == 0
    )
    dag1 = build_metadata_dag(spark, raw1)
    out1, rec1, _ = dag1.incremental_run(
        lake, {"raw/model_image"}, targets=["search_index"]
    )
    assert "search_index" in rec1

    raw2 = dict(raw1)
    raw2["patient_treatment"] = raw1["patient_treatment"].filter(
        F.xxhash64(F.coalesce("treatment_name", F.lit(""))) % 3 != 0
    )
    dag2 = build_metadata_dag(spark, raw2)
    out2, rec2, loaded2 = dag2.incremental_run(
        lake, {"raw/patient_treatment"}, targets=["search_index"]
    )
    # drop 2's cone must NOT re-touch the imaging entities
    assert "model_image" not in rec2 and "images_json_agg" not in rec2
    assert "model_image" in loaded2 or "images_json_agg" in loaded2

    ref = build_metadata_dag(spark, raw2).run(targets=["search_index"])[
        "search_index"
    ]
    got = sorted(
        tuple(r)
        for r in _project_columns(out2["search_index"]).collect()
    )
    want = sorted(
        tuple(r)
        for r in _project_columns(ref).collect()
    )
    assert got == want
