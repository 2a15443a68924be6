"""Bucketed-sink and salted-join scale helpers (SURVEY §4 partitioning
row: bucket large molecular tables; salting for skew)."""

import contextlib
import io

from pyspark.sql import functions as F


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    from pdcm_etl_spark.sources.sinks import write_entity_bucketed

    base = tmp_path_factory.mktemp("buckets")
    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("w")
    )
    write_entity_bucketed(left, "bl", ["k"], num_buckets=8, path=str(base / "bl"))
    write_entity_bucketed(right, "br", ["k"], num_buckets=8, path=str(base / "br"))
    # force the shuffle-join path (tiny test tables would auto-broadcast;
    # at the 100 TB design point both sides are fact-scale)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bl").join(spark.table("br"), "k")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bl")
        spark.sql("DROP TABLE IF EXISTS br")


def test_salted_join_matches_plain_join(spark):
    from pdcm_etl_spark.functions.joins import salted_join

    # skewed fact: 90% of rows share key 0
    fact = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(10).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("name")
    )
    plain = fact.join(dim, ["k"]).select("k", "payload", "name")
    salted = salted_join(fact, dim, ["k"]).select("k", "payload", "name")
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salted_join_left_keeps_unmatched(spark):
    from pdcm_etl_spark.functions.joins import salted_join

    fact = spark.range(100).select((F.col("id") % 20).alias("k"), "id")
    dim = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("name"))
    out = salted_join(fact, dim, ["k"], how="left")
    assert out.count() == 100
    assert out.filter(F.col("name").isNull()).count() == 75


def test_connected_components_shapes(spark):
    from pdcm_etl_spark.operators.graph import connected_components

    # triangle {1,2,3}, chain {10-11-12-13}, isolated {99}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13)],
        ["src", "dst"],
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (12,), (13,), (99,)], ["id"])
    out = {
        r["id"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 99: 99}


def test_materialized_run_resumes_from_parquet(spark, sf_dir, tmp_path_factory):
    from pdcm_etl_spark.plans.dag import build_metadata_dag
    from pdcm_etl_spark.plans.synth import synthesize_provider_modules

    out_dir = str(tmp_path_factory.mktemp("lake"))
    raw = synthesize_provider_modules(spark, sf_dir)
    dag1 = build_metadata_dag(spark, raw)
    first = dag1.materialized_run(out_dir, targets=["patient", "model"])
    n_patient = first["patient"].count()

    # second run must load, not recompute: poison the patient node
    def boom(*_):
        raise AssertionError("patient recomputed despite materialization")

    dag2 = build_metadata_dag(spark, raw)
    dag2.nodes["patient"].fn = boom
    dag2.nodes["model"].fn = boom
    second = dag2.materialized_run(out_dir, targets=["patient", "model"])
    assert second["patient"].count() == n_patient
    assert sorted(second["patient"].columns) == sorted(first["patient"].columns)


def test_asof_join_semantics(spark):
    import datetime

    from pdcm_etl_spark.operators.temporal import asof_join

    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(10)), (1, t(20)), (1, t(5)), (2, t(10))],
        ["user_id", "ts"],
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(15), 150.0)],
        ["user_id", "ts", "value"],
    )
    out = {
        (r["user_id"], r["ts"].second): (
            r["r_ts"].second if r["r_ts"] else None,
            r["r_value"],
        )
        for r in asof_join(left, right, on=["user_id"]).collect()
    }
    assert out == {
        (1, 10): (10, 100.0),   # equal ts matches (<=)
        (1, 20): (15, 150.0),   # latest prior
        (1, 5): (None, None),   # nothing at or before → null
        (2, 10): (None, None),  # key never on right → null
    }


def test_range_join_matches_inequality_join(spark):
    import datetime

    from pyspark.sql import functions as F2

    from pdcm_etl_spark.operators.temporal import range_join_points_in_intervals

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m, 0)
    points = spark.createDataFrame(
        [(i, 1, t(i)) for i in range(0, 60, 7)], ["pid", "k", "ts"]
    )
    intervals = spark.createDataFrame(
        [(1, t(5), t(20)), (1, t(18), t(25)), (2, t(0), t(59))],
        ["k", "start_ts", "end_ts"],
    )
    fast = range_join_points_in_intervals(
        points, intervals, on=["k"], bucket_seconds=300
    ).select("pid", "k", "ts", "start_ts", "end_ts")
    slow = points.join(
        intervals,
        (points.k == intervals.k)
        & (points.ts >= intervals.start_ts)
        & (points.ts <= intervals.end_ts),
    ).select(points.pid, points.k, points.ts, "start_ts", "end_ts")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    assert fast.count() > 0


def test_hash_compare_agrees_with_row_compare(spark, sf_dir):
    """sf1_verify's native hash-compare (used where a Python
    row-compare would be driver-hostile) must agree with the full
    row-compare on known-green queries AND flip on a perturbed oracle
    (sensitivity control)."""
    import importlib.util
    import os

    import duckdb

    import __spark_entry__ as e
    import harness

    spec = importlib.util.spec_from_file_location(
        "sf1_verify",
        os.path.join(os.path.dirname(__file__), "..", "scripts_dev",
                     "sf1_verify.py"),
    )
    sv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sv)

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in harness.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name in ["etl_search_index", "table_stats"]:
        df = qs[name](spark, sf_dir)
        row = harness.compare(name, df, con, oracles[name])
        hsh = sv.hash_compare(name, df, con, oracles[name])
        assert row["ok"] and hsh["ok"], (name, row, hsh)
    # sensitivity: a 1-row-dropped oracle must hash-mismatch
    bad = sv.hash_compare(
        "table_stats",
        qs["table_stats"](spark, sf_dir),
        con,
        f"SELECT * FROM ({oracles['table_stats']}) LIMIT 1",
    )
    assert not bad["ok"]
    con.close()
