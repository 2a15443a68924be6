"""The one storage rule for operators and the flagship DAG:

1. A frame read by more than one consumer goes through ``shared()``.
2. A loop's per-round state (graph closures and components, pagerank,
   the BPE trainer) is cut with ``localCheckpoint(eager=True)`` in the
   loop itself: a lineage cut, not a sharing decision.

Nothing outside this module persists, caches or unpersists a frame
(``plans/audit.bounded_checkpoint`` excepted; tests/test_sharing.py
guards both). ``persist()`` registers the plan in the session's
CacheManager until unpersisted, and any later plan that ``sameResult``s
it is served from blocks ``release`` below may already have dropped.

Why share: Catalyst does not common-subexpression-eliminate repeated
SUBTREES, and AQE's ReusedExchange only fires on byte-identical exchange
subplans. Measured on the dedup pair-generation core (r11 plan capture):
the documents scan + shingle explode executed SIX times per
`jaccard_pairs` call (hot-shingle guard, pair buckets, both size-side
probes), and `itemset_pairs` scanned lineitem 20 times — every consumer
of a shared DataFrame re-runs its whole upstream pipeline. At 100 TB
those are full corpus re-scans.

``shared(df)`` is the fix: a lazy ``localCheckpoint`` — materialized by
the first consumer, replayed from stored blocks (memory-and-disk,
spills gracefully) by the rest; the guide-§8 decide-once pattern. It
covers every compute-once site: the operators' multi-consumer
intermediates, the flagship ``EntityDag``'s multiply-consumed entities
(``plans/dag.py``) and the synthetic provider spine (``plans/synth.py``).
Truncating lineage matters most in the DAG: with ~50 chained entities,
full lineage makes Catalyst re-analyze an ever-deeper tree for every
downstream node (quadratic driver cost — measured ~40% of flagship wall
time at sf0.1).

There is one storage path and no switch. ``persist(MEMORY_AND_DISK)``
keeps full lineage, so a lost executor would recompute instead of
failing, but it measured 2× slower on the flagship (re-analysis cost),
OOMed in serialization where the checkpoint blocks spilled, and left
every shared frame registered in the CacheManager, where ``release``
below dropped its blocks and a second build recomputed through the old
lineage. Recomputing in every consumer is the six-scan fault above.
Should executor loss ever cost checkpoint blocks real work, the choice
must key on what the session shows (its master URL: ``local[N]`` has no
separate executor to lose), never on a user setting.

Memory-pressure note (measured at sf1, 4g heap): the binding variable is
PER-TASK memory, not the storage path — 4g ÷ 32 concurrent tasks kills
the flagship either way, 4g ÷ 4 tasks completes with ~18 GB of spill
and zero OOM (scripts_dev/mem_pressure.py).

``release(spark, keep)`` is the counterpart: it unpersists every
persistent RDD (checkpoint blocks) whose id is not in the
``keep`` snapshot taken earlier with ``persistent_rdd_ids``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def shared(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False)


def _persistent_rdds(spark: SparkSession):
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        yield e._1(), e._2()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    return {rdd_id for rdd_id, _ in _persistent_rdds(spark)}


def release(spark: SparkSession, keep: set[int] = frozenset()) -> None:
    """Unpersist every persistent RDD not in ``keep``: a scoped release
    leaves the blocks of frames that were live at the snapshot alone."""
    for rdd_id, rdd in list(_persistent_rdds(spark)):
        if rdd_id not in keep:
            rdd.unpersist(False)
