"""One storage rule: every compute-once site shares a frame through
``operators.sharing.shared``, a lazy ``localCheckpoint``, the flagship
EntityDag's multiply-consumed entities included; loop rounds are cut
with an eager ``localCheckpoint``; nothing is left registered in Spark's
CacheManager; the engine reads no setting from the environment outside
``session.py``."""

import ast
import os
import re

from pyspark import StorageLevel

import fixtures


def _is_checkpoint(df) -> bool:
    return df._jdf.queryExecution().logical().nodeName() == "LogicalRDD"


def test_dag_and_operators_share_the_same_way(spark):
    from pdcm_etl_spark.operators.sharing import shared
    from pdcm_etl_spark.plans.dag import build_metadata_dag

    dag = build_metadata_dag(spark, fixtures.metadata_fixture(spark))
    multi = next(
        n for n, node in dag.nodes.items()
        if not node.cheap
        and sum(n in m.deps for m in dag.nodes.values()) > 1
    )
    frames = {"shared()": shared(spark.range(10)), multi: dag.run()[multi]}
    try:
        for name, df in frames.items():
            assert _is_checkpoint(df), name
            assert df.storageLevel == StorageLevel.NONE, name
    finally:
        for df in frames.values():
            df.unpersist()


def _checkpointed(dag) -> set[str]:
    return {
        n for n, df in dag._results.items()
        if n in dag.nodes and _is_checkpoint(df)
    }


def test_get_and_run_share_the_same_nodes(spark):
    """``get`` is ``run`` with one target: both count a node's consumers
    inside the requested cone only, so they checkpoint the same nodes."""
    from pdcm_etl_spark.plans.dag import build_metadata_dag

    by_get = build_metadata_dag(spark, fixtures.metadata_fixture(spark))
    by_get.get("model")
    by_run = build_metadata_dag(spark, fixtures.metadata_fixture(spark))
    by_run.run(targets=["model"])
    assert set(by_get._results) == set(by_run._results)
    assert _checkpointed(by_get) == _checkpointed(by_run)


def test_single_module_harmonisation_matches_per_module_cascade(spark):
    """With ``markers`` and ONE harmonisable module the measurement table
    still goes through the shared cascade node: its rows and ids equal
    the cascade applied to that module alone, and the cascade is shared
    because the consumers of its cheap slice are counted."""
    from pdcm_etl_spark.plans.dag import _harmonise_input, build_metadata_dag
    from pdcm_etl_spark.transforms import molecular as mol_t
    from pdcm_etl_spark.transforms import molecular_data as md_t

    raw = fixtures.metadata_fixture(spark)
    mk = fixtures.make_module_df
    raw["molchar_sample"] = mk(spark, "molchar_sample", [
        dict(model_id="M1", sample_id="MS1", sample_origin="patient",
             passage="0", platform_id="pl1", data_source_tmp="TRACE"),
    ])
    raw["molchar_platform"] = mk(spark, "molchar_platform", [
        dict(platform_id="pl1", molecular_characterisation_type="mutation",
             instrument_model="Illumina", library_strategy="WGS",
             data_source_tmp="TRACE"),
    ])
    raw["mutation"] = mk(spark, "mutation", [
        dict(sample_id="MS1", symbol="KRAS", chromosome="12",
             read_depth="40", platform_id="pl1", data_source_tmp="TRACE"),
        dict(sample_id="MS1", symbol="KRAS2", chromosome="12",
             read_depth="7", platform_id="pl1", data_source_tmp="TRACE"),
        dict(sample_id="MS1", symbol="TP53", chromosome="17",
             read_depth=None, platform_id="pl1", data_source_tmp="TRACE"),
    ])
    raw["markers"] = mk(spark, "markers", [
        dict(hgnc_id="HGNC:6407", approved_symbol="KRAS", status="Approved",
             previous_symbols="KRAS2", alias_symbols="K-ras, Ki-ras",
             ensembl_gene_id="ENSG00000133703", ncbi_gene_id="3845",
             data_source_tmp="AUX"),
    ])

    dag = build_metadata_dag(spark, raw)
    out = dag.run()
    got = out["mutation_measurement_data"]
    want = md_t.measurement_data(
        raw["mutation"],
        out["molecular_characterization"],
        harmonised=mol_t.harmonise_marker_symbols(
            _harmonise_input(raw["mutation"]),
            out["gene_marker"],
            out["gene_marker_previous_symbols"],
            out["gene_marker_alias_symbols"],
        ),
    )
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )
    assert got.count() == 3
    assert _is_checkpoint(out["harmonised_measurements"])


# Queries whose operators kept frames with persist() before the storage
# rule; each one left entries in the session's CacheManager.
_PERSISTING_QUERIES = (
    "etl_search_index",
    "etl_search_index_incremental",
    "recursive_closure",
    "pagerank",
    "bpe_encode",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_recall",
    "dedup_recall_banded",
    "dedup_recall_sampled",
)


def test_no_query_leaves_cache_manager_entries(spark, sf_dir):
    """A persisted frame stays registered in the CacheManager until it is
    unpersisted, and later plans that ``sameResult`` it are served from
    its blocks. No query may leave one behind."""
    import __spark_entry__ as entry

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    queries = entry.queries()
    left = {}
    for name in _PERSISTING_QUERIES:
        # start each query empty: a plan already cached by an earlier one
        # would absorb this query's identical persist()
        spark.catalog.clearCache()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        if cache_manager.cachedData().size():
            left[name] = cache_manager.cachedData().size()
    assert not left, f"CacheManager entries left per query: {left}"


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pdcm_etl_spark"
)
_STORAGE_CALL = re.compile(
    r"\.persist\(|\.unpersist\(|\.cache\(\)|StorageLevel"
    r"|localCheckpoint\((?:eager=)?False"
)


def _bounded_checkpoint_lines() -> range:
    path = os.path.join(_PKG, "plans", "audit.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "bounded_checkpoint"
    )
    return range(fn.lineno, fn.end_lineno + 1)


def test_storage_calls_stay_in_sharing():
    """Storage calls live in ``operators/sharing.py`` and in the window
    audit's ``bounded_checkpoint``; everywhere else a frame is kept only
    through ``shared()`` or cut with ``localCheckpoint(eager=True)``."""
    audit = os.path.join("plans", "audit.py")
    hits = []
    for root, _dirs, files in os.walk(_PKG):
        for f in sorted(files):
            rel = os.path.relpath(os.path.join(root, f), _PKG)
            if not f.endswith(".py") or rel == os.path.join("operators", "sharing.py"):
                continue
            skip = _bounded_checkpoint_lines() if rel == audit else ()
            with open(os.path.join(root, f)) as fh:
                for i, line in enumerate(fh, 1):
                    if i not in skip and _STORAGE_CALL.search(line):
                        hits.append(f"{rel}:{i}: {line.strip()}")
    assert not hits, "storage calls outside operators/sharing.py:\n" + "\n".join(hits)


def _package_trees():
    for root, _dirs, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, _PKG), ast.parse(fh.read())


def test_shared_is_imported_once_at_module_top():
    """Every module that shares a frame imports ``shared`` by its own
    name in one module-top import; no function-local import, no alias."""
    bad = []
    for rel, tree in _package_trees():
        top = [
            n for n in tree.body
            if isinstance(n, ast.ImportFrom)
            and n.module == "pdcm_etl_spark.operators.sharing"
            and any(a.name == "shared" for a in n.names)
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.module == "pdcm_etl_spark.operators.sharing"
            ):
                for alias in node.names:
                    if alias.name == "shared" and (
                        alias.asname or node not in top
                    ):
                        bad.append(f"{rel}:{node.lineno}")
        if len(top) > 1:
            bad.append(f"{rel}: {len(top)} module-top imports")
    assert not bad, "shared imported other than once at module top:\n" + "\n".join(bad)


def test_only_session_reads_the_environment():
    """The engine takes no setting from the environment except the
    session's CPU and heap sizing (``session.py``); a choice the code
    can observe is made from the session, not from a variable read per
    call."""
    hits = []
    for rel, tree in _package_trees():
        if rel == "session.py":
            continue
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv", "environb")
            ) or (
                isinstance(node, ast.alias)
                and node.name in ("environ", "getenv", "environb")
            ):
                hits.append(f"{rel}:{getattr(node, 'lineno', '?')}")
    assert not hits, "environment reads outside session.py:\n" + "\n".join(hits)
