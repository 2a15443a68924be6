"""Delta-aware incremental flagship: recompute only what a provider
drop touches, serve the rest from the base run's materialization.

The reference's resumability is Luigi file-existence memoization
(etl/workflow/config.py:4-7): a completed stage's LocalTarget skips it
WITHIN one run, but a new provider drop invalidates every target and
reruns the whole DAG over all providers' data. Two capabilities here
make the recompute DATA-incremental instead:

- ``run_etl_search_index_incremental``: a new provider's modules are
  pushed through the metadata DAG ALONE (work ∝ the delta provider's
  data, not the lake), and the result merges into the base run's
  search_index by provider-partition replacement — the base parquet is
  written ``partitionBy(data_source)``, so dropping the provider's old
  rows is partition PRUNING (zero data read, zero shuffle), and the
  merged frame is hash-proven identical to a from-scratch full rebuild
  (the registry oracle is literally the full-rebuild SQL).

  What makes per-provider recompute sound: every published id is a
  deterministic function of business keys (functions/ids.py — the
  published pdcm_model_id is the portable md5 of (external_model_id,
  provider)), no entity row of provider P depends on another provider's
  rows (the DAG's only cross-provider tables are static ontology /
  marker inputs, which a drop does not change), so the P-slice of every
  entity computed from P-only raw equals the full run's P rows.

- ``EntityDag.incremental_run`` (plans/dag.py): when a drop changes
  only SOME modules, the dirty set is the dependency cone of the
  changed inputs (identified with operators/cdc.py::snapshot_diff on
  the raw modules); clean entities load from the base materialization
  and their upstream subtrees are never resolved. Proven by the
  observed recomputed/loaded node sets in tests/test_incremental.py.

At 100 TB: provider == partition is the layout a federation-of-sources
lake already has; a drop is one partition's worth of DAG work plus one
partition overwrite, while the 999 other providers' data is never read.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import persistent_rdd_ids, release
from pdcm_etl_spark.plans.synth import (
    SEARCH_INDEX_COLUMNS,
    build_search_index,
    synthesize_provider_modules,
)
from pdcm_etl_spark.sources.tsv import PROVIDER_COL

# (applicationId, sf_dir-hash, provider) -> base search_index parquet dir
_BASE_SIX: dict[tuple, str] = {}


def _filter_modules(
    raw: dict[str, DataFrame], pred
) -> dict[str, DataFrame]:
    """Filter provider-carrying modules; static inputs (ontology term
    tables, gene markers — no provider column) pass through whole. A
    provider drop cannot change them, and they are exactly the tables
    whose content couples providers, so keeping them global is what
    makes per-provider recompute equal the full rebuild."""
    return {
        name: df.filter(pred) if PROVIDER_COL in df.columns else df
        for name, df in raw.items()
    }


def _base_six_dir(
    spark: SparkSession,
    sf_dir: str,
    raw: dict[str, DataFrame],
    delta_provider: str,
) -> str:
    """Materialize (once per session) the BASE run: the full metadata
    DAG over every provider EXCEPT the delta one, written as parquet
    partitioned by data_source so the later merge prunes instead of
    filtering.

    Spill-friendliness (the 4g one-session proof, mem_pressure_r9): the
    base DAG's shared-node checkpoint blocks are explicitly released as
    soon as the base is committed to parquet — from that point the base
    is served from disk, so one JVM never holds the base AND delta
    DAGs' live block-store state at once. Without this the one-session
    wrapper carries ~2× the flagship footprint by construction and
    OOMs at the reference's 4g executor profile while the two-job
    shape passes (mem_pressure_r8)."""
    app = spark.sparkContext.applicationId
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    key = (app, digest, delta_provider)
    if key in _BASE_SIX:
        return _BASE_SIX[key]
    rdds_before = persistent_rdd_ids(spark)
    base_raw = _filter_modules(
        raw, F.col(PROVIDER_COL) != delta_provider
    )
    six = build_search_index(spark, base_raw)
    out = os.path.join(
        tempfile.gettempdir(), f"pdcm_base_six_{app}_{digest}"
    )
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    six.write.mode("overwrite").partitionBy("data_source").parquet(out)
    # base is durable on disk now; its checkpoint blocks are dead weight
    # the delta DAG's own blocks would otherwise stack on top of
    release(spark, keep=rdds_before)
    _BASE_SIX[key] = out
    return out


def run_etl_search_index_incremental(
    spark: SparkSession,
    sf_dir: str,
    delta_provider: str = "EUROPE",
) -> DataFrame:
    """The flagship, recomputed delta-aware: the base run's
    search_index (all providers but ``delta_provider``, served from its
    partitioned materialization) merged with the delta provider's
    freshly-computed rows — the full DAG runs over ONE provider's raw
    modules only.

    Merge = partition replacement: drop the delta provider's partition
    from the base (partition pruning — at scale, zero bytes of the
    other providers' data are read for the drop itself, and pruning is
    visible in the scan's PartitionFilters) and union the recomputed
    rows. The registry oracle for this query is the FULL-REBUILD SQL —
    every driver-hash check is the proof that delta-applied ≡ rebuilt
    from scratch, 67 columns wide.
    """
    raw = synthesize_provider_modules(spark, sf_dir)
    base_dir = _base_six_dir(spark, sf_dir, raw, delta_provider)

    # rows tagged with a provider NOT in the source registry are shared
    # configuration (e.g. the annotation-resource catalog, tagged
    # 'SYNTH' here): they ship with every drop. The registry is one row
    # per provider — a bounded collect.
    registered = [
        r[0]
        for r in raw["source"].select(PROVIDER_COL).distinct().collect()
    ]
    delta_raw = _filter_modules(
        raw,
        (F.col(PROVIDER_COL) == delta_provider)
        | ~F.col(PROVIDER_COL).isin(registered),
    )
    delta_six = build_search_index(spark, delta_raw)

    # partition-pruned drop of the (possibly re-shipped) provider, then
    # append the recomputed rows — the upsert contract is idempotent:
    # re-applying the same drop yields the same frame
    base = (
        spark.read.parquet(base_dir)
        .filter(F.col("data_source") != delta_provider)
        .select(*SEARCH_INDEX_COLUMNS)
    )
    return base.unionByName(delta_six)
