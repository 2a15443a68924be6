"""The benchmark's workloads: one client, closed loop.

Each workload is a set-up followed by passes over a list of operations;
the client sends the next operation only after the previous one returned.
An operation is one call into the program's public functions plus the
action that consumes its result, timed as a whole. Its output is checked
after the timer stops; an exception or a wrong output counts as a failed
operation and its text goes into the record.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

from checks import Oracle, rows_digest
from lake import TABLES
from spans import Tracer

# views served from the published index: every view definition that
# reads search_index alone, plus the search_index pass-through
SERVE_VIEWS = [
    "info", "models_by_primary_site", "models_by_anatomical_system_and_diagnosis",
    "models_by_tumour_type", "models_by_patient_age", "models_by_patient_sex",
    "models_by_patient_ethnicity", "models_by_dataset_availability",
    "models_by_mutated_gene", "search_index",
]

# registry queries of the operator mix, in the order each pass runs
# them, -> the layer span they run under. The order is fixed: on a fresh
# JVM the first queries pay the compilation warm-up, and a seeded order
# would move that cost between queries from run to run.
MIX = {
    "dedup_minhash_lsh": "operators.dedup",
    "text_tfidf": "operators.text",
    "ann_ivf_topk": "operators.similarity",
    "kmeans_assign": "operators.ml",
    "pagerank": "operators.graph",
    "table_stats": "operators.analytics",
    "asof_join": "operators.temporal",
    "sample_stratified": "operators.sampling",
    "multimodal_decode": "operators.multimodal",
    "stream_events_sliding": "streaming",
    "pricing_summary": "catalog.relational",
}


@dataclass
class Op:
    name: str
    kind: str
    phase: str  # "pass<k>"
    seconds: float
    cpu_s: float
    error: str | None = None


@dataclass
class Bench:
    """State of one benchmark run: the session, its inputs and the ops."""

    spark: object
    lake_dir: str
    out_dir: str
    seconds: float
    tracer: Tracer
    ops: list[Op] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)
    _oracle: Oracle | None = None

    @property
    def oracle(self) -> Oracle:
        if self._oracle is None:
            self._oracle = Oracle(self.lake_dir, TABLES)
        return self._oracle

    def note(self, text: str) -> None:
        if text not in self.notes:
            self.notes.append(text)

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def op(self, name, kind, phase, call, check=None, span=None):
        """Time ``call()`` (wall and process-tree CPU); then run
        ``check(result)`` untimed. Returns the result, or None when the
        call raised or the check failed."""
        op_id = f"{phase}:{len(self.ops)}:{name}"
        cpu0 = tree_cpu_seconds()
        t0 = time.perf_counter()
        result, error = None, None
        with self.tracer.span(f"op.{kind}", op=op_id):
            try:
                if span:
                    with self.tracer.span(span):
                        result = call()
                else:
                    result = call()
            except Exception:  # an op failure is data: record it, go on
                error = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        cpu = tree_cpu_seconds() - cpu0
        if error is None and check is not None:
            try:
                error = check(result)
            except Exception:
                error = "check raised: " + traceback.format_exc(limit=3)
        self.ops.append(Op(name, kind, phase, dt, cpu, error))
        return result if error is None else None

    def measure(self, one_pass) -> None:
        """Closed loop: whole passes until ``seconds`` have elapsed."""
        start = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - start < self.seconds:
            one_pass(f"pass{k}")
            k += 1

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


# ------------------------------------------------------------ helpers

def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and all its descendants
    (the JVM and its Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    stats, children = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        pid = int(entry)
        stats[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo += children.get(pid, [])
    return total / tick

def _collect(df):
    return df.columns, df.collect()


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _storage_blocks(spark) -> dict[int, tuple[int, int]]:
    """RDD id -> (cached partitions, memory + disk bytes)."""
    out = {}
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        out[info.id()] = (info.numCachedPartitions(), info.memSize() + info.diskSize())
    return out


def instrument(b: Bench) -> None:
    """Traced run only: wrap the program's layer entry points so calls
    made inside the program (the synth and DAG calls inside the search
    index build) get spans too. Program files are not changed."""
    import functools

    from pdcm_etl_spark.plans import dag, synth

    def wrap(owner, attr, span, after=None):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = _persistent_rdds(b.spark) if after else None
            with b.tracer.span(span):
                out = fn(*args, **kwargs)
            if after:
                after(before)
            return out

        setattr(owner, attr, wrapper)

    def shared_nodes(before):
        b.count("dag.shared_nodes", len(_persistent_rdds(b.spark) - before))

    wrap(synth, "synthesize_provider_modules", "synth")
    wrap(dag.EntityDag, "run", "dag", after=shared_nodes)


def _persistent_rdds(spark) -> set[int]:
    ids = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


# --------------------------------------------------------- release_build

def release_build(b: Bench) -> None:
    """No warm-up: a release is a fresh application. Each pass releases
    the search index (synthesize the provider modules, run the entity DAG
    for it, publish it as parquet), then registers the published index,
    creates the views that read it and queries each one."""
    import pyarrow.parquet as pq

    from pdcm_etl_spark.plans import views
    from pdcm_etl_spark.plans.synth import run_etl_search_index
    from pdcm_etl_spark.sources.sinks import write_entity_parquet

    import __spark_entry__ as entry

    oracle_sql = entry.oracle_sql()["etl_search_index"]
    published = os.path.join(b.out_dir, "search_index")
    baseline: dict[str, tuple[int, str]] = {}

    def release():
        df = run_etl_search_index(b.spark, b.lake_dir)
        with b.tracer.span("sinks"):
            write_entity_parquet(df, published)

    def check_published(_):
        files = _parquet_files(published)
        b.count("sinks.entities", 1)
        b.count("sinks.files", len(files))
        b.count("sinks.bytes", sum(os.path.getsize(f) for f in files))
        if not files:
            b.count("sinks.empty_entities", 1)
            return f"search_index published no parquet files under {published}"
        table = pq.read_table(published)
        cols = table.column_names
        rows = [tuple(r[c] for c in cols) for r in table.to_pylist()]
        return b.oracle.check("etl_search_index", oracle_sql, cols, rows)

    def create():
        views.register_entities({"search_index": b.spark.read.parquet(published)})
        return views.create_views(b.spark, only=SERVE_VIEWS)

    def check_created(created):
        b.count("views.created", len(created))
        b.count("views.skipped", len(SERVE_VIEWS) - len(created))
        skipped = sorted(set(SERVE_VIEWS) - set(created))
        if skipped:
            b.note(f"create_views skipped {skipped} without an error")
        return None

    def check_view(name):
        def check(result):
            digest = rows_digest(*result)
            first = baseline.setdefault(name, digest)
            if digest != first:
                return f"view {name}: (rows, hash) {digest}, first pass {first}"
            return None
        return check

    def one_pass(phase):
        b.op("release", "release", phase, release, check_published)
        created = b.op("create_views", "views", phase, create, check_created,
                       span="views.create") or []
        for v in created:
            b.op(v, "view", phase, lambda v=v: _collect(b.spark.table(v)),
                 check_view(v), span="views.query")

    b.measure(one_pass)


# --------------------------------------------------------- operator_mix

def operator_mix(b: Bench) -> None:
    """No warm-up, like release_build: the pass starts on a fresh JVM, as
    a scheduled batch of these queries does. Each pass runs every query
    of the mix once, collecting its rows; each result is checked against
    the query's DuckDB oracle."""
    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()

    def check(name, before):
        def inner(result):
            new = [v for k, v in _storage_blocks(b.spark).items() if k not in before]
            b.count("sharing.blocks", sum(p for p, _ in new))
            b.count("sharing.block_bytes", sum(n for _, n in new))
            return b.oracle.check(name, oracles[name], *result)
        return inner

    def one_pass(phase):
        for name in MIX:
            before = _storage_blocks(b.spark)
            b.op(name, "query", phase,
                 lambda n=name: _collect(queries[n](b.spark, b.lake_dir)),
                 check(name, before), span=MIX[name])

    b.measure(one_pass)


WORKLOADS = {"release_build": release_build, "operator_mix": operator_mix}
