"""Expression-level overflow linter over analyzed Catalyst plans.

The r5/r6 ANSI-abort class: an int32 producer (``size()``,
``row_number()``, ``posexplode`` pos, int casts) multiplied by a ppm/ppb
scale literal, or a bigint *product* accumulated by a bigint ``sum`` —
both pass a small-sample correctness gate with headroom and abort (or
silently wrap pre-ANSI) at real scale. This walks the ANALYZED logical
plan via py4j and reports:

  * ``int32-multiply`` — any ``Multiply`` whose result type is ``int``:
    a 32-bit product anywhere in the plan aborts at ~2.1e9, which a
    scale literal alone nearly reaches.
  * ``bigint-sum-of-product`` — a ``Sum`` whose child is bigint and
    whose def-use-resolved subtree contains a ``Multiply``: products
    grow as value×value (or value×rank/literal), so a 64-bit
    accumulator is the first thing to die at 100 TB. The fix is a
    DECIMAL(38,0) accumulator (cast INSIDE the sum).

Attribute indirection is resolved through ``Alias`` definitions
collected across the whole plan (a product is usually defined in a
``Project`` and summed in a later ``Aggregate``). Subquery plans
(``ScalarSubquery``) are walked too. Known-bounded exceptions are the
caller's business via an allowlist — the linter itself has no opinions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def _walk_plan(p):
    yield p
    for c in _seq(p.children()):
        yield from _walk_plan(c)


def _walk_expr(x):
    yield x
    for c in _seq(x.children()):
        yield from _walk_expr(c)
    # descend into subquery plans (correlated scalar counts etc.)
    if x.getClass().getSimpleName() in (
        "ScalarSubquery",
        "ListQuery",
        "Exists",
        "LateralSubquery",
    ):
        try:
            for node in _walk_plan(x.plan()):
                for e in _seq(node.expressions()):
                    yield from _walk_expr(e)
        except Exception:  # noqa: BLE001 — subquery shape varies by version
            pass


_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "decimal",
                     "double", "float")


def _is_numeric(x) -> bool:
    try:
        return x.dataType().simpleString().startswith(_NUMERIC_PREFIXES)
    except Exception:  # noqa: BLE001 — e.g. unresolved/window frame nodes
        return False


def _resolved_walk(x, defs: dict[int, object], seen: set[int]):
    """Walk the MAGNITUDE path of an expression, chasing
    AttributeReferences through their Alias definitions (cycle-guarded
    by exprId). Resolution stops at non-numeric intermediates: a value
    derived through a boolean/string/hash (e.g. ``cast(rn = 1 as
    bigint)``) is bounded regardless of what fed the comparison, so
    products behind such a boundary cannot inflate the sum."""
    if not _is_numeric(x):
        return
    yield x
    cn = x.getClass().getSimpleName()
    if cn == "AttributeReference":
        eid = x.exprId().id()
        if eid in defs and eid not in seen:
            seen.add(eid)
            yield from _resolved_walk(defs[eid], defs, seen)
        return
    for c in _seq(x.children()):
        yield from _resolved_walk(c, defs, seen)


def overflow_findings(df: DataFrame) -> list[str]:
    """Lint one DataFrame's analyzed plan; return finding strings
    (empty = clean)."""
    jplan = df._jdf.queryExecution().analyzed()
    # one py4j walk collects both the Alias definitions and the
    # Multiply/Sum candidates; a Sum is judged once every alias is known
    defs: dict[int, object] = {}
    candidates: list[tuple[str, object]] = []
    for node in _walk_plan(jplan):
        for e in _seq(node.expressions()):
            for x in _walk_expr(e):
                cn = x.getClass().getSimpleName()
                if cn == "Alias":
                    defs[x.exprId().id()] = x.child()
                elif cn in ("Multiply", "Sum"):
                    candidates.append((cn, x))
    findings: list[str] = []
    for cn, x in candidates:
        if cn == "Multiply":
            if x.dataType().simpleString() == "int":
                findings.append(f"int32-multiply: {x.toString()[:120]}")
        else:
            child = _seq(x.children())[0]
            if child.dataType().simpleString() == "bigint":
                for r in _resolved_walk(child, defs, set()):
                    if r.getClass().getSimpleName() == "Multiply":
                        findings.append(
                            "bigint-sum-of-product: "
                            f"sum({child.toString()[:60]}) over product "
                            f"{r.toString()[:80]}"
                        )
                        break
    return findings


# ---------------------------------------------------------------------------
# Unpartitioned-window audit (round-9, r8 verdict What's-wrong #3): a
# WindowExec with no partition spec moves ALL rows to one partition —
# fine when the input is provably bounded (an aggregate's output, a
# limit), a single-point-of-failure at 100 TB when it isn't. Until now
# nothing distinguished a deliberate bounded-frame single-partition
# window (source_token_overlap's ≤ sources² frame, weighted_median's
# bucket frame) from an accidental one; this walks the OPTIMIZED
# logical plan and flags the accidental kind.

# row-preserving (or row-reducing) wrappers we can see through when
# asking "is this window's input bounded?"
_PASSTHROUGH_NODES = (
    "Project",
    "Filter",
    "Sort",
    "SubqueryAlias",
    "Window",
    "WindowGroupLimit",
    "RepartitionByExpression",
    "Repartition",
    "RebalancePartitions",
    "ResolvedHint",
    "Deduplicate",
    "WithCTE",
    "CTERelationDef",
)

# nodes whose OUTPUT cardinality is bounded by schema/config, not data:
# a grouped aggregate emits ≤ |distinct keys| rows (and the audited
# pattern is group keys drawn from a bounded domain — folds, sources,
# langs); limits and one-row relations are bounded by definition.
_BOUNDED_NODES = (
    "Aggregate",
    "GlobalLimit",
    "LocalLimit",
    "OneRowRelation",
    "LocalRelation",
)


# (applicationId, rdd id) of localCheckpoint frames whose
# PRE-checkpoint plan the walker proved bounded (see
# bounded_checkpoint). A checkpoint erases lineage into a LogicalRDD
# leaf, which used to force an argued allowlist entry in
# tests/test_window_audit.py; registering the proof at the call site
# keeps the audit mechanical end-to-end. Keyed by applicationId
# because rdd ids restart from 0 in a fresh SparkContext — a bare-id
# registry could mark an unproven LogicalRDD bounded after a context
# restart (false negative in the safety audit).
_BOUNDED_RDD_IDS: set[tuple[str, int]] = set()


def _active_app_id() -> str:
    try:
        sess = SparkSession.getActiveSession()
        if sess is not None:
            return sess.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — no context, no proofs
        pass
    return ""


def bounded_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` a frame and, IF its pre-checkpoint optimized
    plan is provably bounded (``_bounded_input``), register the
    resulting LogicalRDD's rdd id so the window audit can see through
    the checkpoint. The marker is earned, never asserted: an unbounded
    frame checkpointed through here registers nothing and any window
    riding it still gets flagged."""
    proven = False
    try:
        proven = _bounded_input(df._jdf.queryExecution().optimizedPlan())
    except Exception:  # noqa: BLE001 — unproven stays unproven
        proven = False
    out = df.localCheckpoint(eager=eager)
    if proven:
        try:
            plan = out._jdf.queryExecution().optimizedPlan()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                _BOUNDED_RDD_IDS.add((_active_app_id(), plan.rdd().id()))
        except Exception:  # noqa: BLE001 — marker is best-effort
            pass
    return out


def _bounded_input(p) -> bool:
    cn = p.getClass().getSimpleName()
    if cn in _BOUNDED_NODES:
        return True
    if cn == "LogicalRDD":
        try:
            return (_active_app_id(), p.rdd().id()) in _BOUNDED_RDD_IDS
        except Exception:  # noqa: BLE001 — unproven stays unproven
            return False
    if cn in _PASSTHROUGH_NODES:
        kids = _seq(p.children())
        return bool(kids) and _bounded_input(kids[0])
    if cn in ("Join", "Union", "Intersect", "Except"):
        # bounded × bounded (or bounded ∪ bounded) stays bounded
        return all(_bounded_input(c) for c in _seq(p.children()))
    # scans, generates (explode re-multiplies rows), everything else:
    # assume data-sized
    return False


def window_findings(df: DataFrame) -> list[str]:
    """Flag every unpartitioned logical Window whose input is not a
    bounded aggregate/limit subtree. Empty list = every global window
    in this plan runs over a frame bounded by schema or config, never
    by data."""
    jplan = df._jdf.queryExecution().optimizedPlan()
    findings: list[str] = []
    for node in _walk_plan(jplan):
        if node.getClass().getSimpleName() != "Window":
            continue
        try:
            if node.partitionSpec().length() > 0:
                continue
        except Exception:  # noqa: BLE001 — node shape varies by version
            # fail CLOSED: a probe failure must surface as a finding,
            # not silently exempt the window from the audit
            head = node.toString().splitlines()[0]
            findings.append(f"unauditable-window: {head[:160]}")
            continue
        child = _seq(node.children())[0]
        if not _bounded_input(child):
            head = node.toString().splitlines()[0]
            findings.append(f"unpartitioned-window: {head[:160]}")
    return findings


# ---------------------------------------------------------------------------
# Physical-plan fingerprinting (round-8): a compact, path-free summary of
# the plan shapes that matter for scale — exchanges, join strategies,
# Python boundaries, scan pushdown. tests/test_plan_fingerprints.py
# snapshots one per registry query so a silent regression (a lost
# broadcast, a new shuffle, a Python UDF creeping into a scalar path)
# fails a test instead of only showing up in the next bench.

_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "ApplyInPandasWithState",
)


def plan_fingerprint(df: DataFrame) -> dict:
    """Shape summary of the (initial) physical plan. Deliberately
    EXCLUDES anything volatile — paths, exprIds, partition counts,
    statistics — so the only thing that can change it is a genuine
    plan-shape change."""
    import re

    s = df._jdf.queryExecution().executedPlan().toString()
    fp: dict = {}
    fp["shuffle_exchanges"] = len(
        re.findall(r"\bExchange (?:hash|range|Single|rebalance)", s)
    )
    fp["broadcast_exchanges"] = len(re.findall(r"\bBroadcastExchange\b", s))
    joins = {}
    for j in _JOIN_NODES:
        c = len(re.findall(rf"\b{j}\b", s))
        if c:
            joins[j] = c
    fp["joins"] = joins
    fp["python_ops"] = sum(
        len(re.findall(rf"\b{n}\b", s)) for n in _PYTHON_NODES
    )
    fp["file_scans"] = len(re.findall(r"\bFileScan parquet\b", s))
    fp["pushed_filter_scans"] = len(
        re.findall(r"PushedFilters: \[[^\]]", s)
    )
    fp["partition_filter_scans"] = len(
        re.findall(r"PartitionFilters: \[[^\]]", s)
    )
    fp["windows"] = len(re.findall(r"\bWindow(?:GroupLimit)? \[", s))
    fp["aggregates"] = len(
        re.findall(r"\b(?:HashAggregate|SortAggregate|ObjectHashAggregate)\b", s)
    )
    fp["generates"] = len(re.findall(r"\bGenerate\b", s))
    return fp
