"""A fixed seed reproduces the same inputs; the mix covers every layer."""

import hashlib

import pyarrow as pa

from lake import TABLES, build_tables
from workloads import MIX


def _digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.md5()
    for name in TABLES:
        h.update(name.encode())
        h.update(repr(tables[name].to_pydict()).encode())
    return h.hexdigest()


def test_same_seed_same_lake():
    assert _digest(build_tables(0.0002, 7)) == _digest(build_tables(0.0002, 7))
    assert _digest(build_tables(0.0002, 7)) != _digest(build_tables(0.0002, 8))


def test_lake_schema_and_sizes():
    tables = build_tables(0.0002, 3)
    assert set(tables) == set(TABLES)
    assert tables["lineitem"].num_rows == 1200
    assert tables["region"].column("r_name").to_pylist()[3] == "EUROPE"
    assert str(tables["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    docs = tables["documents"].column("text").to_pylist()
    assert any(t.endswith(" dup") for t in docs)


def test_mix_runs_every_operator_layer():
    layers = set(MIX.values())
    families = {"dedup", "text", "similarity", "ml", "graph", "analytics",
                "temporal", "sampling", "multimodal"}
    assert {f"operators.{f}" for f in families} | {"streaming", "catalog.relational"} == layers
