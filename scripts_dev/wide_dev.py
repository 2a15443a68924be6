"""Per-column diff of the 67-column etl_search_index vs its DuckDB oracle.

Usage: python scripts_dev/wide_dev.py [sf_dir]
Joins both sides on external_model_id and reports, per column, how many
rows disagree plus 3 example (model, spark, oracle) triples — much faster
to act on than the gate's single pass/fail hash.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    sdf = q["etl_search_index"](spark, SF).toPandas()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    odf = con.execute(o["etl_search_index"]).df()

    print(f"spark rows={len(sdf)} oracle rows={len(odf)}")
    s = sdf.set_index("external_model_id").sort_index()
    d = odf.set_index("external_model_id").sort_index()
    missing = set(s.columns) ^ set(d.columns)
    if missing:
        print("column set mismatch:", missing)
    bad = 0
    for c in sorted(set(s.columns) & set(d.columns)):
        sv, dv = s[c].fillna("\0"), d[c].fillna("\0")
        sv = sv.astype(str)
        dv = dv.astype(str)
        neq = sv != dv
        n = int(neq.sum())
        if n:
            bad += 1
            ex = [
                (i, sv[i], dv[i])
                for i in list(sv[neq].index[:3])
            ]
            print(f"MISMATCH {c}: {n} rows; e.g. {ex}")
    if not bad and not missing and len(s) == len(d):
        print("ALL COLUMNS MATCH")


if __name__ == "__main__":
    main()
