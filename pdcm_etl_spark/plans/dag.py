"""Declarative DAG runner — replaces the reference's Luigi orchestration.

The reference launches one spark-submit per entity with parquet round-trips
between every task (~60 write/read barriers, transformer.py:74-79). Here
the whole entity graph is one Spark application: nodes are pure transform
functions, edges are declared dependencies, intermediates stay as in-memory
lineage (Catalyst sees the full plan), and only entities marked
``materialize`` hit storage. Multiply-consumed nodes are computed once
through ``operators.sharing.shared`` (the reference's
molecular_characterization pattern, SURVEY §4).
"""

from __future__ import annotations

import heapq
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pdcm_etl_spark.operators.sharing import shared

# threads EntityDag.run resolves nodes on (its docstring has the measurement)
RESOLVE_THREADS = 24


@dataclass
class Node:
    name: str
    fn: Callable[..., DataFrame]
    deps: list[str] = field(default_factory=list)
    # pass the SparkSession as first arg (for source/static nodes)
    needs_spark: bool = False
    # cheap projection of an already-materialized input: never checkpoint
    # it, even when multiply consumed — each consumer's column pruning
    # through the thin plan beats re-serializing the wide frame. Cheap
    # nodes are transparent to the consumer count: their input counts
    # the cheap node's own consumers instead.
    cheap: bool = False


class EntityDag:
    """Topologically-executed entity graph with memoization. How a
    multiply-consumed node is shared is ``operators/sharing.py``'s call."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.nodes: dict[str, Node] = {}
        self._results: dict[str, DataFrame] = {}

    def add(self, name, fn, deps=None, needs_spark=False,
            cheap=False) -> "EntityDag":
        self.nodes[name] = Node(name, fn, list(deps or []), needs_spark, cheap)
        return self

    def add_input(self, name: str, df: DataFrame) -> "EntityDag":
        self._results[name] = df
        return self

    def get(self, name: str) -> DataFrame:
        """Resolve one node (and its transitive deps) memoized."""
        return self.run(targets=[name])[name]

    def _consumers(self, name: str, scope: set[str]) -> int:
        """Consumers of ``name`` among the ``scope`` nodes; a cheap
        consumer is transparent and counts its own consumers instead."""
        return sum(
            self._consumers(n, scope) if self.nodes[n].cheap else 1
            for n in scope
            if name in self.nodes[n].deps
        )

    def _share_if_reused(
        self, name: str, df: DataFrame, scope: set[str]
    ) -> DataFrame:
        """Nodes consumed by >1 downstream node are computed once and
        reused — replaces the reference's parquet round-trip barriers.

        ``scope`` restricts the consumer count to the nodes a targeted
        run actually resolves: a node whose second consumer lives outside
        the requested subgraph must NOT be materialized — the checkpoint
        barrier would block Catalyst's column pruning / filter pushdown
        through it for zero reuse benefit (e.g. a measurement table's
        profile consumer when only search_index is asked for)."""
        if self.nodes[name].cheap or self._consumers(name, scope) <= 1:
            return df
        return shared(df)

    def materialized_run(
        self, materialize_dir: str, targets: list[str] | None = None
    ) -> dict[str, DataFrame]:
        """Resumable run — the reference's Luigi file-existence memoization
        (etl/workflow/config.py:4-7 LocalTarget: completed stages skip).

        An ``incremental_run`` with nothing changed: entities whose
        ``materialize_dir/<name>`` already holds a ``_SUCCESS`` marker
        load from parquet (and their upstream subtree is never resolved
        unless another target needs it); every other resolved entity is
        written there. Crash mid-run → rerun redoes only the missing
        entities.
        """
        return self.incremental_run(materialize_dir, set(), targets)[0]

    def dirty_downstream(self, changed_inputs: set[str]) -> set[str]:
        """Entity nodes transitively downstream of the given input /
        node names — the set a data-incremental rerun must recompute.
        Everything else is provably unaffected and can load from a
        prior run's materialization."""
        dirty: set[str] = set()
        for n in self.topological_order():
            if any(
                d in changed_inputs or d in dirty
                for d in self.nodes[n].deps
            ):
                dirty.add(n)
        return dirty

    def incremental_run(
        self,
        materialize_dir: str,
        changed_inputs: set[str],
        targets: list[str] | None = None,
    ) -> tuple[dict[str, DataFrame], set[str], set[str]]:
        """DATA-incremental rerun over a prior ``materialized_run``
        directory: only entities transitively downstream of
        ``changed_inputs`` (raw module names like ``raw/treatment``, as
        diffed by operators/cdc.py::snapshot_diff) are recomputed — every
        clean entity loads from its committed parquet and its upstream
        subtree is never resolved.

        This is the capability the reference's Luigi memoization lacks
        (etl/workflow/config.py:4-7 skips completed STAGES of the same
        run; a new provider drop invalidates every target file and
        reruns everything): here invalidation follows the DATA dependency
        graph, so a drop touching one module recomputes only that
        module's cone. Every resolved entity that was not loaded —
        targets and intermediates alike — is written back over its stale
        parquet, so consecutive incremental runs compose.

        Returns ``(results, recomputed, loaded)`` — the latter two are
        the observable proof that the run touched a strict subset.
        """
        import os

        dirty = self.dirty_downstream(changed_inputs)
        names = targets or list(self.nodes)
        loaded: set[str] = set()
        for n in self.nodes:
            path = os.path.join(materialize_dir, n)
            if n not in dirty and os.path.exists(os.path.join(path, "_SUCCESS")):
                self._results[n] = self.spark.read.parquet(path)
                loaded.add(n)
        self.run(targets=names)
        recomputed = [
            n for n in self._results if n in self.nodes and n not in loaded
        ]
        for n in recomputed:
            path = os.path.join(materialize_dir, n)
            self._results[n].write.mode("overwrite").parquet(path)
            self._results[n] = self.spark.read.parquet(path)
        return {n: self._results[n] for n in names}, set(recomputed), loaded

    def run(self, targets: list[str] | None = None) -> dict[str, DataFrame]:
        """Resolve all (or the given) entities; returns name → DataFrame.

        Scheduling model: the calling thread owns the graph and a pool of
        ``RESOLVE_THREADS`` workers only builds nodes. A node is submitted
        once its last dependency has resolved, so no worker ever blocks
        waiting on another node; among the ready nodes the one with the
        longest chain of needed dependents goes first, and at most one
        node per worker is in flight, so a late-listed root on the
        critical path is not queued behind short side branches. The first
        node that raises stops all submission: the in-flight nodes finish,
        the pool shuts down, the error propagates from ``run`` and no
        dependent of the failed node runs.

        Threads matter because resolving a checkpointed node executes its
        upstream shuffle stages (AQE finalizes the plan when the RDD is
        created): serially every materialization sits on the critical
        path; on the pool independent subgraphs overlap and the wall time
        is the DAG's critical path (sf0.1 flagship: 45.9 s → 27.7 s cold
        at 8 threads). The thread count is a constant, not a knob: with
        the blocking waits gone a worker only ever holds a runnable node,
        and 4, 8 and 24 threads measured the same on a 4-core host while
        the per-node jobs are small enough that a wide pool keeps the
        Spark scheduler fed on larger hosts. Spark job submission is
        thread-safe; node fns are pure plan builders.
        """
        names = targets or list(self.nodes)

        # transitive closure of what the targets need
        needed: set[str] = set()
        stack = [n for n in names if n not in self._results]
        while stack:
            n = stack.pop()
            if n in needed:
                continue
            if n not in self.nodes:
                raise KeyError(f"unknown entity '{n}' (not a node or input)")
            needed.add(n)
            stack.extend(
                d for d in self.nodes[n].deps
                if d not in self._results and d not in needed
            )

        waiting = {
            n: {d for d in self.nodes[n].deps if d in needed} for n in needed
        }
        dependents: dict[str, list[str]] = {n: [] for n in needed}
        for n, deps in waiting.items():
            for d in deps:
                dependents[d].append(n)
        # longest chain of needed dependents below each node (itself = 1)
        height: dict[str, int] = {}
        for n in reversed([n for n in self.topological_order() if n in needed]):
            height[n] = 1 + max((height[c] for c in dependents[n]), default=0)

        def resolve(name: str, args: list[DataFrame]) -> DataFrame:
            node = self.nodes[name]
            df = node.fn(self.spark, *args) if node.needs_spark else node.fn(*args)
            return self._share_if_reused(name, df, scope=needed)

        ready = [(-height[n], n) for n, deps in waiting.items() if not deps]
        heapq.heapify(ready)
        running: dict[Future, str] = {}
        with ThreadPoolExecutor(max_workers=RESOLVE_THREADS) as pool:
            while ready or running:
                while ready and len(running) < RESOLVE_THREADS:
                    _, n = heapq.heappop(ready)
                    args = [self._results[d] for d in self.nodes[n].deps]
                    running[pool.submit(resolve, n, args)] = n
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    n = running.pop(fut)
                    if fut.exception() is not None:
                        wait(running)
                        raise fut.exception()
                    self._results[n] = fut.result()
                    for c in dependents[n]:
                        waiting[c].discard(n)
                        if not waiting[c]:
                            heapq.heappush(ready, (-height[c], c))
        return {n: self._results[n] for n in names}

    def topological_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()
        visiting: set[str] = set()

        def visit(n: str):
            if n in seen or n in self._results and n not in self.nodes:
                return
            if n in visiting:
                raise ValueError(f"dependency cycle at '{n}'")
            visiting.add(n)
            for d in self.nodes.get(n, Node(n, lambda: None)).deps:
                if d in self.nodes:
                    visit(d)
            visiting.discard(n)
            if n in self.nodes:
                seen.add(n)
                order.append(n)

        for n in self.nodes:
            visit(n)
        return order


def build_metadata_dag(spark: SparkSession, raw: dict[str, DataFrame]) -> EntityDag:
    """Wire the metadata entity cluster (the reference DAG's first third:
    extractor.py → dims → patient/model). ``raw`` maps module name →
    all-string DataFrame (from sources.tsv or test fixtures)."""
    from pdcm_etl_spark.transforms import dims, model as model_t, patient as patient_t

    dag = EntityDag(spark)
    for name, df in raw.items():
        dag.add_input(f"raw/{name}", df)

    dag.add("ethnicity", dims.ethnicity, ["raw/patient"])
    _add_name_dims(dag, "source_name_dims", dims.source_name_dims,
                   ["raw/source"], dims.SOURCE_NAME_DIMS)
    dag.add(
        "provider_group",
        dims.provider_group,
        ["raw/source", "provider_type", "project_group"],
    )
    dag.add(
        "publication_group", dims.publication_group, ["raw/model", "raw/cell_model"]
    )
    dag.add("accessibility_group", dims.accessibility_group, ["raw/sharing"])
    dag.add("contact_people", dims.contact_people, ["raw/sharing"])
    dag.add("contact_form", dims.contact_form, ["raw/sharing"])
    dag.add("source_database", dims.source_database, ["raw/sharing"])
    dag.add("license", lambda s: dims.license_table(s), [], needs_spark=True)

    # static / config-as-table entities (always present)
    from pdcm_etl_spark.transforms import images as img_t
    from pdcm_etl_spark.transforms.molecular import molecular_characterization_type

    dag.add(
        "molecular_characterization_type",
        molecular_characterization_type,
        [],
        needs_spark=True,
    )
    dag.add(
        "molecular_data_restriction",
        img_t.molecular_data_restriction,
        [],
        needs_spark=True,
    )

    dag.add(
        "patient", patient_t.patient, ["raw/patient", "ethnicity", "provider_group"]
    )
    dag.add(
        "initial_model",
        model_t.initial_model,
        ["raw/model", "raw/cell_model", "raw/sharing"],
    )
    dag.add(
        "model",
        model_t.model,
        [
            "initial_model", "publication_group", "accessibility_group",
            "contact_people", "contact_form", "source_database", "license",
        ],
    )
    dag.add("cell_model", model_t.cell_model, ["raw/cell_model", "model"])

    # optional clusters — wired only when their raw modules are provided
    from pdcm_etl_spark.transforms import (
        facets as facets_t,
        links as links_t,
        metadata as meta_t,
        molecular as mol_t,
        molecular_data as md_t,
        ontology as ont_t,
        sample as sample_t,
        treatment as tr_t,
    )

    if "sample" in raw:
        _add_name_dims(dag, "sample_name_dims", sample_t.sample_name_dims,
                       ["raw/sample"], sample_t.SAMPLE_NAME_DIMS)
        dag.add(
            "patient_sample",
            sample_t.patient_sample,
            ["raw/sample", "patient", "tissue", "tumour_type", "initial_model"],
        )

    if "drug_dosing" in raw and "patient_treatment" in raw:
        _add_name_dims(dag, "response_name_dims", tr_t.response_name_dims,
                       ["raw/drug_dosing", "raw/patient_treatment"],
                       tr_t.RESPONSE_NAME_DIMS)
        dag.add(
            "treatment_protocol",
            tr_t.treatment_protocol,
            ["raw/drug_dosing", "raw/patient_treatment", "initial_model",
             "patient", "response", "response_classification"],
        )
        dag.add(
            "treatment_component_helper",
            tr_t.treatment_and_component_helper,
            ["treatment_protocol"],
        )
        dag.add("treatment", tr_t.treatment, ["treatment_component_helper"])
        dag.add(
            "treatment_component",
            tr_t.treatment_component,
            ["treatment_component_helper", "treatment"],
        )
        agg_deps = ["treatment_protocol", "treatment_component_helper", "response"]
        if "patient_sample" in dag.nodes:
            agg_deps.append("patient_sample")
        dag.add(
            "treatment_aggregation_by_model",
            tr_t.treatment_aggregation_by_model,
            agg_deps,
        )

    if "model_validation" in raw:
        from pdcm_etl_spark.transforms import specimen as spec_t

        dag.add(
            "quality_assurance",
            spec_t.quality_assurance,
            ["raw/model_validation", "initial_model"],
        )
        dag.add("qa_json_agg", meta_t.quality_assurance_json, ["quality_assurance"])
    if "model" in raw:
        from pdcm_etl_spark.transforms import lineage as lin_t, specimen as spec_t

        _add_name_dims(dag, "model_name_dims", spec_t.model_name_dims,
                       ["raw/model"], spec_t.MODEL_NAME_DIMS)
        dag.add("host_strain", spec_t.host_strain, ["raw/model"])
        dag.add(
            "xenograft_model_specimen",
            spec_t.xenograft_model_specimen,
            ["raw/model", "engraftment_site", "engraftment_type",
             "engraftment_sample_type", "engraftment_sample_state",
             "initial_model", "host_strain"],
        )
        dag.add("model_relationships", lin_t.model_relationships, ["initial_model"])
        dag.add(
            "specimens_json_agg",
            meta_t.xenograft_specimens_json,
            ["xenograft_model_specimen", "host_strain",
             "engraftment_site", "engraftment_type",
             "engraftment_sample_type", "engraftment_sample_state"],
        )

    if "molchar_sample" in raw and "molchar_platform" in raw:
        dag.add(
            "molecular_characterization",
            mol_t.molecular_characterization,
            ["raw/molchar_sample", "raw/molchar_platform"],
        )
        # (mol_char_id, model_id, molchar_type) with internal model ids —
        # shared by dataset_available + every per-model molecular aggregate
        dag.add(
            "model_molchar",
            _resolve_molchar_model_ids,
            ["molecular_characterization", "initial_model"],
        )
        # treatment / publication markers are appended row-wise in search_index
        dag.add("dataset_available", meta_t.dataset_available, ["model_molchar"])
        dag.add(
            "platform",
            sample_t.platform,
            ["raw/molchar_platform", "provider_group"],
        )
        dag.add(
            "cell_sample",
            sample_t.cell_sample,
            ["raw/molchar_sample", "model", "platform"],
        )
        if "model" in raw:
            dag.add(
                "xenograft_sample",
                sample_t.xenograft_sample,
                ["raw/molchar_sample", "host_strain", "model", "platform"],
            )

        # per-type molecular measurement tables + the column-profile
        # entity (available_molecular_data_columns_transformer_job.py)
        meas_mods = [
            m for m in ("mutation", "cna", "expression", "biomarker", "immunemarker")
            if m in raw
        ]
        # gene-symbol columns exist on mutation/cna/expression/biomarker
        # (immunemarker keys on marker_name — never harmonised, matching
        # the reference's per-type GeneHelper wiring)
        harmonisable = {"mutation", "cna", "expression", "biomarker"}
        h_mods = (
            [m for m in meas_mods if m in harmonisable]
            if "markers" in raw
            else []
        )
        if h_mods:
            # ONE 5-stage cascade over the tagged union of every
            # harmonisable module instead of one cascade per module: the
            # inputs are disjoint row sets, the cascade is row-local
            # (broadcast lookups only), so a '__mtype' tag + post-filter
            # gives identical rows/ids while the cascade plan is built
            # and materialized once (multi-consumer persist rule) rather
            # than 4x. Plan-construction profile at sf0.01: the four
            # *_measurement_data nodes were 4 of the 5 hottest nodes.
            dag.add(
                "harmonised_measurements",
                _harmonised_union_adapter(h_mods),
                [f"raw/{m}" for m in h_mods]
                + ["gene_marker", "gene_marker_previous_symbols",
                   "gene_marker_alias_symbols"],
            )
        for mod in meas_mods:
            if mod not in h_mods:
                dag.add(
                    f"{mod}_measurement_data",
                    md_t.measurement_data,
                    [f"raw/{mod}", "molecular_characterization"],
                )
                continue
            dag.add(
                f"{mod}_measurement_data",
                _measurement_slice_adapter(mod),
                ["harmonised_measurements", f"raw/{mod}",
                 "molecular_characterization"],
                # thin slice of the checkpointed cascade union: let
                # each consumer prune columns through it (the marker
                # aggregates read 2 of ~30 columns and skip the row
                # hash entirely) instead of re-materializing the
                # wide frame
                cheap=True,
            )
        if meas_mods:
            dag.add(
                "available_molecular_data_columns",
                _available_columns_adapter(meas_mods),
                [f"{m}_measurement_data" for m in meas_mods],
            )
        # every per-model molecular aggregate of search_index (marker
        # lists, msi, hla, breast-cancer biomarkers, raw-data and
        # annotation resources) in one aggregation over model_molchar
        with_resources = "resource" in raw
        dag.add(
            "molecular_aggregates_by_model",
            _molecular_aggregates_adapter(meas_mods, with_resources),
            [f"{m}_measurement_data" for m in meas_mods]
            + ["molecular_characterization", "model_molchar"]
            + (["raw/resource"] if with_resources else []),
        )

    # imaging cluster (image_study/model_image modules)
    if "image_study" in raw:
        dag.add("image_study", img_t.image_study, ["raw/image_study"])
    if "model_image" in raw:
        dag.add("model_image", img_t.model_image, ["raw/model_image", "initial_model"])
        dag.add("images_json_agg", img_t.model_images_json, ["model_image"])

    # HGNC gene-marker reference + exploded symbol side tables
    # (gene_marker_transformer_job.py:25-46)
    if "markers" in raw:
        dag.add("gene_marker", mol_t.gene_marker, ["raw/markers"])
        dag.add("gene_marker_previous_symbols", mol_t.previous_symbols, ["gene_marker"])
        dag.add("gene_marker_alias_symbols", mol_t.alias_symbols, ["gene_marker"])

    if "obo" in raw:
        dag.add("ontology_term", ont_t.ontology_term, ["raw/obo"])
        dag.add("term_closure", ont_t.term_closure, ["raw/obo"])
        dag.add(
            "ontology_term_diagnosis",
            ont_t.ontology_term_diagnosis,
            ["ontology_term", "term_closure"],
        )
        dag.add(
            "term_ancestors", ont_t.term_ancestors, ["ontology_term", "term_closure"]
        )
        dag.add(
            "ontology_term_treatment",
            ont_t.ontology_term_treatment,
            ["ontology_term", "term_closure"],
        )
        dag.add(
            "ontology_term_regimen",
            ont_t.ontology_term_regimen,
            ["ontology_term", "term_closure"],
        )
        if "treatment_mapping" in raw and "treatment" in dag.nodes:
            dag.add(
                "treatment_name_harmonisation",
                tr_t.harmonise_treatment_names,
                ["treatment", "raw/treatment_mapping",
                 "ontology_term_treatment", "ontology_term_regimen"],
            )
        if "ontolia" in raw:
            dag.add(
                "regimen_to_treatment",
                ont_t.regimen_to_treatment,
                ["raw/ontolia", "ontology_term_regimen", "ontology_term_treatment"],
            )
        if "diagnosis_mapping" in raw and "sample" in raw:
            dag.add(
                "sample_to_ontology",
                _sample_to_ontology_adapter,
                ["patient_sample", "tissue", "tumour_type",
                 "raw/diagnosis_mapping", "ontology_term_diagnosis"],
            )
            dag.add(
                "search_index_patient_sample",
                _search_index_ps_adapter,
                ["patient_sample", "patient", "sample_to_ontology",
                 "ontology_term_diagnosis", "term_ancestors",
                 "tissue", "tumour_type", "ethnicity"],
            )
            six_deps = ["model", "search_index_patient_sample", "provider_group",
                        "project_group"]
            # per-model aggregate nodes are hoisted next to their base
            # entities so search_index and model_metadata share one
            # computation (persisted by the multi-consumer rule)
            for agg in ("dataset_available", "treatment_aggregation_by_model",
                        "qa_json_agg", "specimens_json_agg", "images_json_agg"):
                if agg in dag.nodes:
                    six_deps.append(agg)
            dag.add("publications_json_agg", meta_t.publications_json,
                    ["initial_model"])
            six_deps.append("publications_json_agg")
            if "molecular_aggregates_by_model" in dag.nodes:
                six_deps.append("molecular_aggregates_by_model")
            # treatment-type list per model over harmonised ontology terms
            if ("treatment_name_harmonisation" in dag.nodes
                    and "treatment_component_helper" in dag.nodes):
                dag.add(
                    "custom_treatment_types",
                    links_t.custom_treatment_types_per_model,
                    ["treatment_protocol", "treatment_component_helper",
                     "treatment_name_harmonisation", "term_ancestors"],
                )
                six_deps.append("custom_treatment_types")
            # metadata completeness scores (search_index 'scores' JSON)
            dag.add(
                "scores",
                _scores_adapter,
                ["model_metadata", "search_index_patient_sample"],
            )
            six_deps.append("scores")
            dag.add("search_index", _search_index_adapter, six_deps)
            dag.add(
                "search_facet",
                facets_t.search_facets,
                ["search_index"],
                needs_spark=True,
            )

    # lineage graph (nodes/edges entities, nodes_transformer_job.py:59-79)
    if "patient_sample" in dag.nodes:
        from pdcm_etl_spark.transforms import lineage as lin_t2

        dag.add("node", lin_t2.nodes, ["patient", "patient_sample", "model"])
        dag.add("edge", lin_t2.edges, ["node", "patient_sample", "model"])

    # model_metadata: model spine + whichever per-model aggregate nodes
    # this run's raw modules produced (each aggregate is optional, like
    # the reference's left-join chain in model_metadata_transformer_job
    # .py). The aggregates are shared DAG nodes — search_index consumes
    # the same ones, so each is computed once and persisted.
    mm_deps = ["model"] + [
        n for n in ("qa_json_agg", "specimens_json_agg", "dataset_available",
                    "images_json_agg")
        if n in dag.nodes
    ]
    dag.add("model_metadata", _model_metadata_adapter, mm_deps)
    return dag


def _model_metadata_adapter(model, *aggs):
    from pdcm_etl_spark.transforms import metadata as meta_t

    return meta_t.model_metadata(model, list(aggs))


def _resolve_molchar_model_ids(molchar, initial_model):
    """molchar rows carry the provider-external model id; resolve to the
    internal id used by every per-model aggregate."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.transforms import molecular_data as md_t

    mm = md_t.model_molchar(molchar)
    ids = F.broadcast(
        initial_model.select(
            F.col("external_model_id").alias("model_id"),
            F.col("id").alias("internal_model_id"),
        )
    )
    return (
        mm.join(ids, "model_id", "left")
        .drop("model_id")
        .withColumnRenamed("internal_model_id", "model_id")
    )


def _add_name_dims(dag: EntityDag, family: str, build, deps, dims) -> None:
    """One node builds the whole name-dim family (``dims.name_dims``);
    each dim is a cheap slice of it, so the family counts the slices'
    consumers and is shared once for all of them."""
    from pdcm_etl_spark.transforms.dims import name_dim

    dag.add(family, build, deps)
    for dim in dims:
        dag.add(dim, partial(name_dim, dim=dim), [family], cheap=True)


def _molecular_aggregates_adapter(mods: list[str], with_resources: bool):
    def build(*dfs):
        from pdcm_etl_spark.transforms import molecular_data as md_t

        n = len(mods)
        return md_t.molecular_aggregates_per_model(
            dict(zip(mods, dfs[:n])), dfs[n], dfs[n + 1],
            dfs[n + 2] if with_resources else None,
        )

    return build


def _scores_adapter(model_metadata, six_ps):
    """Join the model-metadata spine (JSON aggregates + supplier cols) to
    the patient/sample slice so the score expression sees every weighted
    column, then emit the per-model scores JSON."""
    from pdcm_etl_spark.transforms import scoring as scoring_t

    joined = model_metadata.join(six_ps, "pdcm_model_id", "left")
    return scoring_t.scores_json(joined)


def _harmonise_input(raw_df):
    """Normalize a raw measurement module for the symbol cascade: the
    biomarker module names its gene column 'biomarker' and carries no
    stable ids — add 'symbol' and null id columns so the cascade's later
    stages no-op."""
    from pyspark.sql import functions as F

    h_in = raw_df
    if "symbol" not in h_in.columns and "biomarker" in h_in.columns:
        h_in = h_in.withColumn("symbol", F.col("biomarker"))
    for id_col in ("ensembl_gene_id", "ncbi_gene_id"):
        if id_col not in h_in.columns:
            h_in = h_in.withColumn(id_col, F.lit(None).cast("string"))
    return h_in


def _harmonised_union_adapter(mods: list[str]):
    """Tagged union of every harmonisable raw module -> one cascade run.
    All raw module frames are all-string (TSV contract), so
    unionByName(allowMissingColumns=True) never hits a type conflict;
    columns a module lacks come back null and are dropped again by the
    per-module slice."""

    def build(*dfs):
        from functools import reduce

        from pyspark.sql import functions as F

        from pdcm_etl_spark.transforms import molecular as mol_t

        raws, (gene_marker, prev_syms, alias_syms) = dfs[:len(mods)], dfs[len(mods):]
        tagged = [
            _harmonise_input(raw).withColumn("__mtype", F.lit(mod))
            for mod, raw in zip(mods, raws)
        ]
        unioned = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged
        )
        return mol_t.harmonise_marker_symbols(
            unioned, gene_marker, prev_syms, alias_syms
        )

    return build


def _measurement_slice_adapter(mod: str):
    """Slice one module back out of the shared cascade result: filter the
    tag, restore the module's exact pre-cascade column order (hash_id is
    order-sensitive — ids must match the per-module cascade path), then
    build the measurement table."""

    def build(harmonised_all, raw_df, molchar):
        from pyspark.sql import functions as F

        from pdcm_etl_spark.transforms import molecular_data as md_t

        h_in_cols = list(_harmonise_input(raw_df).columns)
        # exact per-module cascade column order (hash_id is
        # order-sensitive): the cascade's final join(on="gene_marker_id")
        # hoists the key to the front, then the input columns, then the
        # appended result columns
        sliced = harmonised_all.filter(F.col("__mtype") == mod).select(
            "gene_marker_id",
            *h_in_cols,
            "non_harmonised_symbol",
            "harmonisation_result",
            "hgnc_symbol",
        )
        return md_t.measurement_data(raw_df, molchar, harmonised=sliced)

    return build


def _available_columns_adapter(mod_names: list[str]):
    def build(*dfs):
        from pdcm_etl_spark.transforms import profile as profile_t

        return profile_t.available_columns_all(dict(zip(mod_names, dfs)))

    return build


def _search_index_adapter(model, six_ps, provider_group, project_group, *aggs):
    from pdcm_etl_spark.transforms import search as search_t

    return search_t.search_index(
        model, six_ps, list(aggs),
        provider_group_df=provider_group, project_group_df=project_group,
    )


def _sample_to_ontology_adapter(
    patient_sample, tissue, tumour_type, diagnosis_mapping, diag_terms
):
    """Resolve the sample's tissue/tumour-type FKs back to display names
    and run the 4-key ontology mapping (sample_to_ontology_transformer_job
    .py:96-139). The internal patient_sample id is the sample key used by
    search_index_patient_sample."""
    from pyspark.sql import functions as F

    from pdcm_etl_spark.transforms import ontology as ont_t

    t_primary = F.broadcast(
        tissue.select(
            F.col("id").alias("primary_site_id"), F.col("name").alias("primary_tissue")
        )
    )
    tt = F.broadcast(
        tumour_type.select(
            F.col("id").alias("tumour_type_id"), F.col("name").alias("tumor_type")
        )
    )
    sample_data = (
        patient_sample.select(
            F.col("id").alias("sample_id"),
            F.col("data_source_tmp").alias("data_source"),
            "diagnosis",
            "primary_site_id",
            "tumour_type_id",
        )
        .join(t_primary, "primary_site_id", "left")
        .join(tt, "tumour_type_id", "left")
    )
    return ont_t.sample_to_ontology(sample_data, diagnosis_mapping, diag_terms)


def _search_index_ps_adapter(
    patient_sample, patient, s2o, diag_terms, ancestors, tissue, tumour_type, ethnicity
):
    from pyspark.sql import functions as F

    from pdcm_etl_spark.transforms import search as search_t

    terms_with_anc = diag_terms.join(
        ancestors.withColumnRenamed("term_id", "a_term_id"),
        diag_terms.term_id == F.col("a_term_id"),
        "left",
    ).drop("a_term_id")
    return search_t.search_index_patient_sample(
        patient_sample, patient, s2o, terms_with_anc,
        tissue_df=tissue, tumour_type_df=tumour_type, ethnicity_df=ethnicity,
    )
