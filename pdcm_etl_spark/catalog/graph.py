"""Graph algorithms over graphs derived from the lake tables
(``operators/graph.py``): ancestor closure, PageRank, triangle counts,
k-core peeling, BFS distances, link prediction and degree histograms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators import dedup
from pdcm_etl_spark.operators.graph import (
    ancestor_closure,
    bfs_distances,
    degree_histogram,
    kcore,
    link_predict_cn,
    pagerank,
    triangle_count,
)
from pdcm_etl_spark.sources.lake import read_docs, read_table


def q_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive ancestor closure (the model-relationships tree,
    scripts/updates.sql:6-34, and the ontology DAG closure) — iterative
    DataFrame self-join to fixpoint; oracle uses WITH RECURSIVE.

    Synthetic hierarchy: parent(k) = k // 10 over part keys."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    edges = part.select(
        F.col("p_partkey").cast("bigint").alias("node"),
        (F.floor(F.col("p_partkey") / 10)).cast("bigint").alias("parent"),
    )
    return ancestor_closure(edges)


SQL_RECURSIVE_CLOSURE = """
WITH RECURSIVE anc AS (
  SELECT CAST(p_partkey AS BIGINT) AS node,
         CAST(p_partkey // 10 AS BIGINT) AS ancestor,
         CAST(1 AS INTEGER) AS depth
  FROM part WHERE p_partkey >= 1
  UNION ALL
  SELECT node, CAST(ancestor // 10 AS BIGINT), depth + 1
  FROM anc WHERE ancestor > 0
)
SELECT node, ancestor, depth FROM anc
"""


def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank over a synthetic two-edge-per-node
    directed graph on the part keys (tree edge k→k div 10 + a scatter
    edge k→1+((31k+7) mod N)) — the iterative-graph-algorithm primitive
    beyond closure/components. 3 budgeted sweeps; generated N-round SQL
    oracle, bit-exact."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    n = part.count()  # scalar — the graph's node-count modulus
    pk = part.select(F.col("p_partkey").cast("bigint").alias("k"))
    e1 = pk.select(
        F.col("k").alias("src"), F.expr("k div 10").alias("dst")
    ).filter(F.col("dst") >= 1)
    e2 = pk.select(
        F.col("k").alias("src"),
        (F.lit(1) + (F.col("k") * 31 + 7) % F.lit(n)).alias("dst"),
    )
    return pagerank(e1.unionByName(e2), iterations=3)


def _sql_pagerank(iterations: int = 3) -> str:
    """Oracle: the same integer-floored PageRank recurrence as a
    generated CTE chain — one contribution + one rank CTE per round."""
    parts = [
        """pk AS (
  SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey >= 1
)""",
        """edges AS (
  SELECT k AS src, k // 10 AS dst FROM pk WHERE k // 10 >= 1
  UNION ALL
  SELECT k, 1 + ((k * 31 + 7) % (SELECT COUNT(*) FROM pk)) FROM pk
)""",
        """outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)""",
        """nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)""",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"""c{t} AS (
  SELECT e.dst AS node,
         SUM((p.pr * 85) // (100 * o.outdeg)) AS inflow
  FROM edges e
  JOIN pr{t - 1} p ON p.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
)""",
        )
        parts.append(
            f"""pr{t} AS (
  SELECT n.node, CAST(150000 + COALESCE(c.inflow, 0) AS BIGINT) AS pr
  FROM nodes n LEFT JOIN c{t} c ON c.node = n.node
)""",
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, pr AS pr_micro FROM pr{iterations}"
    )


def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a synthetic bounded-degree graph on
    the part keys (path edge k→k+1, skip edge k→k+2 — these two alone
    tile the line with triangles — plus a scatter edge
    k→1+((7k+3) mod N) for irregularity). Degree-oriented wedge
    generation (O(m^1.5) even under skew); the oracle counts the same
    triangles via the canonical a<b<c triple join."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    n = part.count()  # scalar — the graph's node-count modulus
    pk = part.select(F.col("p_partkey").cast("bigint").alias("k"))
    e1 = pk.filter(F.expr(f"k + 1 <= {n}")).select(
        F.col("k").alias("src"), F.expr("k + 1").alias("dst")
    )
    e2 = pk.filter(F.expr(f"k + 2 <= {n}")).select(
        F.col("k").alias("src"), F.expr("k + 2").alias("dst")
    )
    e3 = pk.select(
        F.col("k").alias("src"), F.expr(f"1 + ((7 * k + 3) % {n})").alias("dst")
    )
    return triangle_count(e1.unionByName(e2).unionByName(e3))


SQL_TRIANGLE_COUNT = """
WITH nn AS (SELECT COUNT(*) AS n FROM part WHERE p_partkey >= 1),
pk AS (
  SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey >= 1
),
raw AS (
  SELECT k AS u, k + 1 AS v FROM pk, nn WHERE k + 1 <= nn.n
  UNION ALL
  SELECT k, k + 2 FROM pk, nn WHERE k + 2 <= nn.n
  UNION ALL
  SELECT k, 1 + ((7 * k + 3) % nn.n) FROM pk, nn
),
e AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM raw WHERE u <> v
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, COUNT(*) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
"""


def x_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the exact-Jaccard near-dup pair graph
    (operators/graph.py::kcore): iterative peeling separates DENSE
    duplicate communities from incidental pairwise matches. One
    degree agg + two semi joins per round, convergence observe()d
    during the round's checkpoint (one action/round); the oracle is
    the generated fixed-round peeling chain (peeling is monotone, so
    extra oracle rounds after the fixpoint are no-ops)."""
    docs = read_docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    pairs = dedup.jaccard_pairs(sh, min_bp=2000, max_shingle_freq=1000)
    return kcore(pairs, k=2, src="id_a", dst="id_b", max_rounds=8)


def _sql_kcore(k: int = 2, rounds: int = 8) -> str:
    """Generated fixed-round peeling oracle over the jaccard pair graph
    (same pair CTEs as SQL_DEDUP_GROUPS)."""
    parts = [
        """ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000) f
  USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) >= 2000
), e0 AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            # MATERIALIZED: DuckDB inlines plain CTEs, and each round
            # references the previous one three times — unmaterialized,
            # the chain expands 3^rounds copies of the pair pipeline
            # (observed: "Too many open files" at 8 rounds)
            f"""k{r} AS MATERIALIZED (
  SELECT a FROM e{p} GROUP BY a HAVING COUNT(*) >= {k}
), e{r} AS MATERIALIZED (
  SELECT e{p}.a, e{p}.b FROM e{p}
  JOIN k{r} ka ON e{p}.a = ka.a
  JOIN k{r} kb ON e{p}.b = kb.a
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree "
        f"FROM e{rounds} GROUP BY a"
    )


def x_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS distances from node 1 over the undirected
    version of pagerank's synthetic part-key graph (tree edge
    k → k div 10 + scatter edge k → 1+((31k+7) mod N))
    (operators/graph.py::bfs_distances): fixed max_hops rounds, ZERO
    convergence collects, 2 node-keyed shuffles per round, frontier
    join touches only the rows first reached last round."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    n = part.count()  # scalar — the graph's node-count modulus
    pk = part.select(F.col("p_partkey").cast("bigint").alias("k"))
    e1 = pk.select(
        F.col("k").alias("src"), F.expr("k div 10").alias("dst")
    ).filter(F.col("dst") >= 1)
    e2 = pk.select(
        F.col("k").alias("src"),
        (F.lit(1) + (F.col("k") * 31 + 7) % F.lit(n)).alias("dst"),
    )
    sources = spark.range(1, 2).select(F.col("id").alias("node"))
    return bfs_distances(
        e1.unionByName(e2), sources, max_hops=4, directed=False
    )


SQL_BFS_DISTANCE = """
WITH RECURSIVE pk AS (
  SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey >= 1
),
e0 AS (
  SELECT k AS src, k // 10 AS dst FROM pk WHERE k // 10 >= 1
  UNION ALL
  SELECT k, 1 + ((31 * k + 7) % (SELECT COUNT(*) FROM pk)) FROM pk
),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
b AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
  UNION
  SELECT e.dst, b.dist + 1
  FROM b JOIN e ON e.src = b.node
  WHERE b.dist < 4
)
SELECT node, CAST(MIN(dist) AS INT) AS dist FROM b GROUP BY node
"""


def x_link_predict_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 predicted links by common-neighbor count over the
    undirected version of pagerank's synthetic part-key graph
    (operators/graph.py::link_predict_cn): wedge generation through
    degree-capped centers — never all-pairs — one pair-keyed count,
    anti join against existing edges, TakeOrderedAndProject top-k."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    n = part.count()  # scalar — the graph's node-count modulus
    pk = part.select(F.col("p_partkey").cast("bigint").alias("k"))
    e1 = pk.select(
        F.col("k").alias("src"), F.expr("k div 10").alias("dst")
    ).filter(F.col("dst") >= 1)
    e2 = pk.select(
        F.col("k").alias("src"),
        F.expr(f"1 + ((31 * k + 7) % {n})").alias("dst"),
    )
    return link_predict_cn(
        e1.unionByName(e2), k=50, max_center_degree=64
    )


def _sql_link_predict_cn() -> str:
    return """
WITH pk AS (
  SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey >= 1
), nn AS (SELECT COUNT(*) AS c FROM pk),
e0 AS (
  SELECT k AS src, k // 10 AS dst FROM pk WHERE k // 10 >= 1
  UNION ALL
  SELECT k, 1 + ((31 * k + 7) % (SELECT c FROM nn)) FROM pk
),
und AS (
  SELECT DISTINCT s, d FROM (
    SELECT src AS s, dst AS d FROM e0
    UNION ALL SELECT dst, src FROM e0
  ) WHERE s <> d
),
ok AS (
  SELECT s AS c FROM und GROUP BY s HAVING COUNT(*) <= 64
),
nbrs AS (
  SELECT u.s AS c, u.d AS nb FROM und u JOIN ok ON u.s = ok.c
),
cn AS (
  SELECT w1.nb AS a, w2.nb AS b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM nbrs w1 JOIN nbrs w2 ON w1.c = w2.c AND w1.nb < w2.nb
  GROUP BY 1, 2
)
SELECT a AS node_a, b AS node_b, common_neighbors
FROM cn
WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.s = cn.a AND und.d = cn.b)
ORDER BY common_neighbors DESC, a ASC, b ASC
LIMIT 50
"""


def x_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the part→order bipartite graph
    (operators/graph.py::degree_histogram)."""
    return degree_histogram(
        read_table(spark, sf_dir, "lineitem"),
        src_col="l_partkey",
        dst_col="l_orderkey",
    )


SQL_DEGREE_HISTOGRAM = """
WITH deg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT DISTINCT l_partkey, l_orderkey FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL)
  GROUP BY 1
)
SELECT CAST(FLOOR(log2(d)) AS INTEGER) AS degree_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(d) AS BIGINT) AS n_edges
FROM deg GROUP BY 1
"""


CATALOG: dict[str, tuple] = {
    "recursive_closure": (q_recursive_closure, SQL_RECURSIVE_CLOSURE),
    "pagerank": (x_pagerank, _sql_pagerank(3)),
    "triangle_count": (x_triangle_count, SQL_TRIANGLE_COUNT),
    "kcore": (x_kcore, _sql_kcore()),
    "bfs_distance": (x_bfs_distance, SQL_BFS_DISTANCE),
    "link_predict_cn": (x_link_predict_cn, _sql_link_predict_cn()),
    "degree_histogram": (x_degree_histogram, SQL_DEGREE_HISTOGRAM),
}
