"""EntityDag scheduling: dependency-driven submission, longest remaining
path first, fail-fast error propagation, and the flagship's Spark-job
budget."""

import threading

import pytest


@pytest.fixture
def small_pool(monkeypatch):
    from pdcm_etl_spark.plans import dag as dag_mod

    def set_threads(n):
        monkeypatch.setattr(dag_mod, "RESOLVE_THREADS", n)

    return set_threads


def test_late_root_runs_while_a_slow_node_holds_its_dependents(spark, small_pool):
    """Two workers: a slow root that two nodes depend on, and a root
    listed after them. The late root must start while the slow node is
    still running — a worker blocked on the slow node's result would
    leave it queued until the slow node gave up waiting."""
    from pdcm_etl_spark.plans.dag import EntityDag

    small_pool(2)
    late_started = threading.Event()
    slow_saw_late = []

    def slow():
        slow_saw_late.append(late_started.wait(timeout=10))
        return spark.range(1)

    def late():
        late_started.set()
        return spark.range(1)

    dag = EntityDag(spark)
    dag.add("slow", slow, cheap=True)
    dag.add("first", lambda s: s, ["slow"])
    dag.add("second", lambda s: s, ["slow"])
    dag.add("late", late)
    out = dag.run()
    assert slow_saw_late == [True]
    assert set(out) == {"slow", "first", "second", "late"}


def test_ready_nodes_start_longest_remaining_path_first(spark, small_pool):
    """One worker: among ready roots, the one heading the longest chain
    of dependents is built first, whatever the listing order."""
    from pdcm_etl_spark.plans.dag import EntityDag

    small_pool(1)
    order = []

    def node(name):
        def build(*_):
            order.append(name)
            return spark.range(1)
        return build

    dag = EntityDag(spark)
    dag.add("leaf", node("leaf"))
    dag.add("short", node("short"))
    dag.add("short_child", node("short_child"), ["short"])
    dag.add("long", node("long"))
    dag.add("long_1", node("long_1"), ["long"])
    dag.add("long_2", node("long_2"), ["long_1"])
    dag.run()
    assert order[0] == "long"
    assert order.index("short") < order.index("leaf")


def test_failing_node_propagates_and_stops_the_run(spark, small_pool):
    """A node that raises: ``run`` re-raises its error, no dependent of
    it runs, and no pool thread outlives the call."""
    from pdcm_etl_spark.plans.dag import EntityDag

    class NodeFailed(Exception):
        pass

    small_pool(2)
    ran = []

    def boom():
        raise NodeFailed("boom")

    def child(df):
        ran.append("child")
        return df

    dag = EntityDag(spark)
    dag.add("boom", boom)
    dag.add("child", child, ["boom"])
    dag.add("grandchild", child, ["child"])
    dag.add("other", lambda: spark.range(1))
    pool_threads = {
        t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")
    }
    with pytest.raises(NodeFailed, match="boom"):
        dag.run()
    assert ran == []
    assert "child" not in dag._results and "grandchild" not in dag._results
    leftover = {
        t for t in threading.enumerate()
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    } - pool_threads
    assert not leftover


# Spark jobs one flagship build plus its collect submits at sf0.001,
# measured 157-163 on a fresh and a warm session (204-207 before the
# name-dim families and the fused per-model aggregations), plus 10%.
FLAGSHIP_JOB_BUDGET = 180


def test_flagship_job_budget(spark, sf_dir):
    """The DAG phase and the final plan of ``run_etl_search_index`` stay
    within a Spark-job budget: plan fingerprints see only the final plan,
    this also counts the jobs of every shared DAG node."""
    from pdcm_etl_spark.plans.synth import run_etl_search_index

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    rows = run_etl_search_index(spark, sf_dir).collect()
    jobs = [j for j in tracker.getJobIdsForGroup(None) if j > before]
    assert rows
    assert len(jobs) <= FLAGSHIP_JOB_BUDGET, len(jobs)
