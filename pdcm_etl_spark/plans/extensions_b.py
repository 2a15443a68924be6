"""Round-6 registry extensions: statistical analytics (regression,
chi-square, Benford, entropy, Gini), declarative data-quality checks,
bounded-hop BFS, LISTAGG, and weighted sampling — each as a
(query, DuckDB-oracle) pair like plans/extensions.py.

Determinism rules are the repo-wide ones (plans/catalog.py header):
integer/decimal fixed-point everywhere a float could diverge; the two
deliberate float surfaces (entropy's log2, the weighted sampler's ln)
are rounded / selection-only and documented at the operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.dedup import DUCK_H60
from pdcm_etl_spark.plans.extensions import _docs, _t


def x_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with deterministic ordering — the
    reference's jsonb_agg-style report columns as sorted CSV (the
    form every SQL warehouse exposes as LISTAGG ... WITHIN GROUP).
    Spark has no ordered string_agg; the scale-honest composition is
    collect_set → array_sort → array_join (set dedup map-side, sort
    bounded by per-group distinct cardinality, never a global sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
        )
    )


SQL_STRING_AGG_ORDERED = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
         AS statuses
FROM orders
GROUP BY o_orderpriority
"""


def x_linreg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of price-cents on quantity
    (operators/analytics.py::linreg_group): one keyed aggregation of
    the five sufficient statistics in DECIMAL(38,0), closed-form
    slope/intercept as integer ppm/milli — distributed regression
    without a second pass or any driver math."""
    from pdcm_etl_spark.operators.analytics import linreg_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    return linreg_group(li, "l_returnflag", "x", "y").withColumnRenamed(
        "key", "l_returnflag"
    )


SQL_LINREG_GROUP = """
WITH b AS (
  SELECT l_returnflag,
         CAST(l_quantity AS HUGEINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
  FROM lineitem
), a AS (
  SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM b GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (1000000::HUGEINT * (n * sxy - sx * sy))
                 // (n * sxx - sx * sx) END AS BIGINT) AS slope_ppm,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (1000::HUGEINT * (sy * sxx - sx * sxy))
                 // (n * sxx - sx * sx) END AS BIGINT) AS intercept_milli
FROM a
"""


def x_chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source chi-square association
    (operators/analytics.py::chi_square_assoc): one cell aggregation,
    broadcast marginals, scale-safe χ² = N·(Σ o²/(rc) − 1)
    rearrangement with per-cell ppb truncation on both engines."""
    from pdcm_etl_spark.operators.analytics import chi_square_assoc

    return chi_square_assoc(_docs(spark, sf_dir), "lang", "source")


SQL_CHI_SQUARE_ASSOC = """
WITH cells AS (
  SELECT lang AS row_val, source AS col_val, CAST(COUNT(*) AS HUGEINT) AS n
  FROM documents GROUP BY 1, 2
),
rn AS (SELECT row_val, SUM(n) AS row_n FROM cells GROUP BY 1),
cn AS (SELECT col_val, SUM(n) AS col_n FROM cells GROUP BY 1),
q AS (
  SELECT row_val, col_val,
         (1000000000::HUGEINT * n * n) // (row_n * col_n) AS q_ppb
  FROM cells JOIN rn USING (row_val) JOIN cn USING (col_val)
),
s AS (
  SELECT CAST(COUNT(DISTINCT row_val) AS BIGINT) AS n_rows_cat,
         CAST(COUNT(DISTINCT col_val) AS BIGINT) AS n_cols_cat,
         SUM(q_ppb) AS sq
  FROM q
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells)
SELECT n_rows_cat, n_cols_cat,
       CAST((n_rows_cat - 1) * (n_cols_cat - 1) AS BIGINT) AS deg_freedom,
       total,
       CAST((total * (sq - 1000000000::HUGEINT)) // 1000000 AS BIGINT)
         AS chi2_milli
FROM s, t
"""


def x_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit profile of price cents vs Benford's law
    (operators/analytics.py::benford_profile): digit from the BIGINT
    text head, 9-group agg + broadcast total, expectation as ppm
    LITERALS (no query-time float log on either engine)."""
    from pdcm_etl_spark.operators.analytics import benford_profile

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    return benford_profile(li, "cents")


_BENFORD_VALUES = (
    "(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),"
    " (6, 66947), (7, 57992), (8, 51153), (9, 45757)"
)

SQL_BENFORD_PROFILE = f"""
WITH v AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
    AS cents
  FROM lineitem
),
g AS (
  SELECT CAST(SUBSTR(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM v WHERE cents > 0 GROUP BY 1
),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g),
b(digit, benford_ppm) AS (VALUES {_BENFORD_VALUES})
SELECT g.digit, g.n,
       CAST((CAST(n AS HUGEINT) * 1000000) // total AS BIGINT) AS share_ppm,
       CAST(benford_ppm AS BIGINT) AS benford_ppm,
       CAST((CAST(n AS HUGEINT) * 1000000) // total - benford_ppm AS BIGINT)
         AS delta_ppm
FROM g JOIN b USING (digit), t
"""


def x_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the categorical distribution columns
    (operators/analytics.py::entropy_profile): events.event_type +
    documents.{lang,source}. One value-count agg per column; the only
    float (log2) is called once per DISTINCT value and the output is
    6-dp-rounded (libm 1-ulp divergence is ~1e-16 relative — far
    inside the rounding guard at these cardinalities)."""
    from pdcm_etl_spark.operators.analytics import entropy_profile
    from pdcm_etl_spark.plans.catalog import load_events

    ev = entropy_profile(load_events(spark, sf_dir), ["event_type"])
    dc = entropy_profile(_docs(spark, sf_dir), ["lang", "source"])
    return ev.unionByName(dc)


def _sql_entropy_one(table: str, col: str) -> str:
    return f"""
SELECT '{col}' AS column_name,
       CAST(SUM(n) AS BIGINT) AS n_values,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(log2(CAST(SUM(n) AS DOUBLE))
             - SUM(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
               / CAST(SUM(n) AS DOUBLE), 6) AS entropy_bits
FROM (
  SELECT COUNT(*) AS n FROM {table}
  WHERE {col} IS NOT NULL GROUP BY {col}
)
"""


SQL_ENTROPY_PROFILE = (
    _sql_entropy_one("events", "event_type")
    + " UNION ALL "
    + _sql_entropy_one("documents", "lang")
    + " UNION ALL "
    + _sql_entropy_one("documents", "source")
)


def x_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini of document lengths
    (operators/analytics.py::gini_concentration): rank window and
    aggregation share ONE language-keyed shuffle; rank·value products
    ride DECIMAL(38,0) (bigint ranks — the r5 int32 ANSI-abort
    class)."""
    from pdcm_etl_spark.operators.analytics import gini_concentration

    return gini_concentration(
        _docs(spark, sf_dir), "lang", "n_chars", "doc_id"
    ).withColumnRenamed("key", "lang")


SQL_GINI_CONCENTRATION = """
WITH r AS (
  SELECT lang, CAST(n_chars AS HUGEINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
              AS HUGEINT) AS i
  FROM documents
),
a AS (
  SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
         SUM(i * x) AS six
  FROM r GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total_value,
       CAST(CASE WHEN sx = 0 OR n < 2 THEN NULL
            ELSE (1000000::HUGEINT * (2 * six - (n + 1) * sx)) // (n * sx)
            END AS BIGINT) AS gini_ppm
FROM a
"""


def x_dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over orders + lineitem
    (operators/analytics.py::dq_profile): domain / range / date-bound
    predicates evaluated in ONE conditional-agg pass PER TABLE (never
    one scan per rule), plus the two rule shapes a single-table scan
    can't express — primary-key uniqueness (count vs count-distinct in
    the same pass) and FK integrity (broadcast anti-join count). The
    union is 7 bounded rows; plan cost is 3 scans total."""
    from pdcm_etl_spark.operators.analytics import dq_profile

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")

    o_rules = dq_profile(
        orders,
        [
            (
                "orders_status_domain",
                ~F.col("o_orderstatus").isin("O", "F", "P"),
            ),
            (
                "orders_price_range",
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") <= 0)
                | (F.col("o_totalprice") > 400000),
            ),
            (
                "orders_date_bounds",
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2002-01-01").cast("timestamp")
                ),
            ),
        ],
    )
    l_rules = dq_profile(
        li,
        [
            (
                "lineitem_qty_range",
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
            ),
            (
                "lineitem_discount_range",
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.08),
            ),
        ],
    )
    # uniqueness: violations = rows − distinct keys, same single pass
    pk = li.agg(
        F.lit("lineitem_pk_unique").alias("rule_id"),
        F.count(F.lit(1)).cast("bigint").alias("checked"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        )
        .cast("bigint")
        .alias("violations"),
    ).select(
        "rule_id", "checked", "violations",
        (F.col("violations") == 0).alias("pass"),
    )
    # FK integrity: orders → customer, broadcast anti join (dim side
    # is the small one; at 100 TB swap in bloom_prune_join's shape)
    fk = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
        .crossJoin(
            F.broadcast(
                orders.agg(F.count(F.lit(1)).cast("bigint").alias("checked"))
            )
        )
        .select(
            F.lit("orders_fk_customer").alias("rule_id"),
            "checked",
            "violations",
            (F.col("violations") == 0).alias("pass"),
        )
    )
    return o_rules.unionByName(l_rules).unionByName(pk).unionByName(fk)


SQL_DQ_CHECK = """
WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS checked,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
         CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                       OR o_totalprice > 400000
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                       OR o_orderdate >= TIMESTAMP '2002-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_date
  FROM orders
),
l AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS checked,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
         CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
              AS BIGINT) AS v_pk
  FROM lineitem
),
fk AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS checked,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
           AS violations
)
SELECT 'orders_status_domain' AS rule_id, checked, v_status AS violations,
       v_status = 0 AS pass FROM o
UNION ALL
SELECT 'orders_price_range', checked, v_price, v_price = 0 FROM o
UNION ALL
SELECT 'orders_date_bounds', checked, v_date, v_date = 0 FROM o
UNION ALL
SELECT 'lineitem_qty_range', checked, v_qty, v_qty = 0 FROM l
UNION ALL
SELECT 'lineitem_discount_range', checked, v_disc, v_disc = 0 FROM l
UNION ALL
SELECT 'lineitem_pk_unique', checked, v_pk, v_pk = 0 FROM l
UNION ALL
SELECT 'orders_fk_customer', checked, violations, violations = 0 FROM fk
"""


def x_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS distances from node 1 over the undirected
    version of pagerank's synthetic part-key graph (tree edge
    k → k div 10 + scatter edge k → 1+((31k+7) mod N))
    (operators/graph.py::bfs_distances): fixed max_hops rounds, ZERO
    convergence collects, 2 node-keyed shuffles per round, frontier
    join touches only the rows first reached last round."""
    from pdcm_etl_spark.operators.graph import bfs_distances

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
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


def x_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus subsample, k=200 — Efraimidis–Spirakis
    exponential clocks on the portable hash
    (operators/sampling.py::weighted_sample): top-k by clock is
    TakeOrderedAndProject (per-partition heaps, no data shuffle); the
    output is float-free membership."""
    from pdcm_etl_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", k=200
    ).select("doc_id", "lang", "source", "n_chars")


_H60_DOC = DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")

SQL_SAMPLE_WEIGHTED = f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         -ln((({_H60_DOC}) % 1073741824 + 1) / 1073741825.0)
           / CAST(n_chars AS DOUBLE) AS clock
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, source, n_chars
FROM w ORDER BY clock, doc_id LIMIT 200
"""


def x_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/text.py::bigram_lm_score):
    transition-probability upgrade of the unigram CCNet filter —
    map-side bigram extraction (slice+zip, no positional self-join),
    one bigram-vocab agg whose exchange the w1-marginal reuses, one
    (w1,w2) join, one doc agg. Integer-ppm exact."""
    from pdcm_etl_spark.operators import text

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.bigram_lm_score(docs)


SQL_BIGRAM_LM_SCORE = """
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> w != '') AS w
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS b
  FROM ws WHERE len(w) >= 2
),
db AS (SELECT doc_id AS id, b.w1 AS w1, b.w2 AS w2 FROM bi),
v2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM db GROUP BY w1, w2),
m1 AS (SELECT w1, SUM(c2) AS c1 FROM v2 GROUP BY w1),
sv AS (
  SELECT w1, w2, (c2 * 1000000) // c1 AS p_ppm
  FROM v2 JOIN m1 USING (w1)
)
SELECT d.id AS doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(s.p_ppm) // COUNT(*) AS BIGINT) AS lm2_score_ppm,
       CAST(MIN(s.p_ppm) AS BIGINT) AS min_cond_ppm
FROM db d JOIN sv s USING (w1, w2)
GROUP BY d.id
"""


def x_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize document lengths across languages
    (operators/ml.py::quantile_normalize): within-group rank → global
    type-1 order statistic at the same percentile. Global ranks come
    from the range-bucket decomposition — NO single-task global sort
    (plan-pinned); the only collect is the 2-value min/max bound."""
    from pdcm_etl_spark.operators.ml import quantile_normalize

    return quantile_normalize(
        _docs(spark, sf_dir), "lang", "n_chars", "doc_id"
    )


SQL_QUANTILE_NORMALIZE = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
           AS rr,
         COUNT(*) OVER (PARTITION BY lang) AS ng
  FROM documents
),
g AS (
  SELECT n_chars AS q_value,
         ROW_NUMBER() OVER (ORDER BY n_chars, lang, doc_id) AS gr
  FROM documents
),
t AS (SELECT COUNT(*) AS n FROM documents)
SELECT r.doc_id, r.lang, r.n_chars, g.q_value
FROM r, t
JOIN g ON g.gr = (r.rr * t.n + r.ng - 1) // r.ng
"""


def x_er_score_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage scoring over sorted-neighborhood candidates
    (operators/dedup.py::linkage_score_pairs): customer near-misses in
    name order, scored by integer Fellegi–Sunter-style field-agreement
    weights (nation +10, segment +10, acctbal ±100.00 +25, name-prefix8
    +40), threshold 35. The blocker never shuffles the wide rows —
    attributes re-enter by two id-keyed joins."""
    from pdcm_etl_spark.operators import dedup as dd

    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_cents",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint"),
    ).withColumn("name8", F.substring("c_name", 1, 8))
    pairs = dd.sorted_neighborhood_pairs(
        cust, id_col="c_custkey", key_col="c_name", window=5, bucket_len=16
    )
    return dd.linkage_score_pairs(
        pairs,
        cust,
        "c_custkey",
        exact_rules=[
            ("nation_eq", "c_nationkey", 10),
            ("segment_eq", "c_mktsegment", 10),
            ("name8_eq", "name8", 40),
        ],
        tol_rules=[("bal_close", "bal_cents", 10000, 25)],
        threshold=35,
    )


SQL_ER_SCORE_PAIRS = """
WITH r AS (
  SELECT c_custkey AS id, c_name AS k,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
  FROM customer
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 5
),
c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
         SUBSTR(c_name, 1, 8) AS name8
  FROM customer
),
s AS (
  SELECT p.id_a, p.id_b,
         ca.c_nationkey = cb.c_nationkey AS nation_eq,
         ca.c_mktsegment = cb.c_mktsegment AS segment_eq,
         ca.name8 = cb.name8 AS name8_eq,
         ABS(ca.bal_cents - cb.bal_cents) <= 10000 AS bal_close
  FROM p
  JOIN c ca ON ca.c_custkey = p.id_a
  JOIN c cb ON cb.c_custkey = p.id_b
)
SELECT id_a, id_b, nation_eq, segment_eq, name8_eq, bal_close,
       CAST(CASE WHEN nation_eq THEN 10 ELSE 0 END
          + CASE WHEN segment_eq THEN 10 ELSE 0 END
          + CASE WHEN name8_eq THEN 40 ELSE 0 END
          + CASE WHEN bal_close THEN 25 ELSE 0 END AS BIGINT) AS score
FROM s
WHERE CASE WHEN nation_eq THEN 10 ELSE 0 END
    + CASE WHEN segment_eq THEN 10 ELSE 0 END
    + CASE WHEN name8_eq THEN 40 ELSE 0 END
    + CASE WHEN bal_close THEN 25 ELSE 0 END >= 35
"""


def x_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banding recall harness — ann_recall's twin for dedup: the
    MinHash+LSH pipeline's verified pairs measured against the
    CANDIDATE-COMPLETE exact truth at the same threshold (prefix
    filtering at Jaccard ≥ 0.2, whose completeness is itself proven by
    the brute-force dedup_prefix_filter oracle row). Both sides verify
    with exact Jaccard on full shingle sets, so LSH output ⊆ truth and
    the gap IS the banding miss rate — the number that decides
    bands/rows tuning before a 100 TB dedup run.

    Scale: truth + candidates are the two production pipelines
    unchanged; the comparison adds one pair-keyed semi join and three
    1-row aggregates (broadcast crossJoin). At 100 TB the harness runs
    in SAMPLED mode — ``sample_bp`` hash-samples documents (basis
    points of the corpus) before BOTH pipelines, so the quadratic
    truth side is paid on a sliver while recall, being a ratio,
    transfers: property-tested at sf0.1 (2500/5000 bp within ±5 pp of
    the full-corpus recall, tests/test_properties.py)."""
    from pdcm_etl_spark.operators import dedup as dd

    return dd.banding_recall(_docs(spark, sf_dir), min_ppm=200_000)


def x_dedup_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of dedup_recall (round-9 verdict ask 2): both
    pipelines run on a DETERMINISTIC portable-hash document sample
    (sample_bp basis points of the corpus) so the pair-quadratic exact
    truth is paid on p² of the pairs while recall, a ratio over a
    uniformly-sampled pair subset (Bernoulli doc sampling ⇒ each truth
    pair survives iff both endpoints do), transfers. This is the
    variant the sf1 sweep RUNS (the full-truth twin stays sf≤0.1)."""
    from pdcm_etl_spark.operators import dedup as dd

    return dd.banding_recall(
        _docs(spark, sf_dir), min_ppm=200_000, sample_bp=2500
    )


def _sql_dedup_recall(sample_bp: int | None = None) -> str:
    from pdcm_etl_spark.plans.extensions import _sql_dedup_minhash_lsh

    where = ""
    if sample_bp is not None:
        h = DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")
        where = f" WHERE ({h}) % 10000 < {sample_bp}"
    return f"""
WITH ws AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w
  FROM documents{where}
), d AS (
  SELECT id, list_distinct(list_transform(
           range(greatest(len(w) - 2, 0)),
           i -> array_to_string(list_slice(w, i + 1, i + 3), ' '))) AS toks
  FROM ws
), p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         len(list_intersect(a.toks, b.toks)) AS i,
         len(a.toks) AS na, len(b.toks) AS nb
  FROM d a JOIN d b ON a.id < b.id
  WHERE len(a.toks) > 0 AND len(b.toks) > 0
), truth AS (
  SELECT id_a, id_b FROM p
  WHERE (i * 1000000) // (na + nb - i) >= 200000
), found AS (
  SELECT id_a, id_b FROM ({_sql_dedup_minhash_lsh(min_bp=2000, where=where)})
), h AS (
  SELECT COUNT(*) AS n_hit
  FROM (SELECT id_a, id_b FROM found INTERSECT
        SELECT id_a, id_b FROM truth)
), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth),
f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh_pairs FROM found)
SELECT t.n_true_pairs, f.n_lsh_pairs, CAST(h.n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN t.n_true_pairs = 0 THEN NULL
            ELSE (h.n_hit * 1000000) // t.n_true_pairs END AS BIGINT)
         AS recall_ppm
FROM t, f, h
"""


def x_stream_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DQ monitor: tumbling-day windows of conditional
    violation counters maintained by the watermarked stream; integer
    ppm rates derived at the sink read
    (streaming/events_stream.py::dq_monitor_stream). Oracle is the
    batch equivalent by date_trunc."""
    from pdcm_etl_spark.streaming.events_stream import dq_monitor_stream

    return dq_monitor_stream(spark, sf_dir)


SQL_STREAM_DQ_MONITOR = """
WITH c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type NOT IN
                  ('click','view','signup','purchase','error')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
         CAST(SUM(CASE WHEN value IS NULL OR value <= 0 OR value > 400
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_value,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_error
  FROM events GROUP BY 1
)
SELECT win_start, n_events, v_type, v_value,
       CAST((v_value * 1000000) // n_events AS BIGINT)
         AS value_violation_ppm,
       CAST((n_error * 1000000) // n_events AS BIGINT) AS error_share_ppm
FROM c
"""


def x_sample_weighted_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-weighted subsample, k=50 per group
    (operators/sampling.py::weighted_sample_grouped): A-ES clocks
    ranked by a GROUP-partitioned window — one keyed shuffle, float-
    free membership."""
    from pdcm_etl_spark.operators.sampling import weighted_sample_grouped

    return weighted_sample_grouped(
        _docs(spark, sf_dir), "lang", "doc_id", "n_chars", k=50
    ).select("doc_id", "lang", "source", "n_chars")


_H60_DOC_G = DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")

SQL_SAMPLE_WEIGHTED_GROUPED = f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY -ln((({_H60_DOC_G}) % 1073741824 + 1) / 1073741825.0)
                    / CAST(n_chars AS DOUBLE), doc_id) AS rk
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, source, n_chars FROM w WHERE rk <= 50
"""


def x_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-join output cardinality WITHOUT executing the join
    (functions/joins.py::join_cardinality_estimate): orders x lineitem
    on the orderkey — two keyed count aggs + a key-sized join reduce
    to one row; the row-explosion pre-flight that pairs with
    key_skew_profile before a 100 TB fact-fact join."""
    from pdcm_etl_spark.functions.joins import join_cardinality_estimate

    return join_cardinality_estimate(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        "o_orderkey",
        "l_orderkey",
    )


SQL_JOIN_CARDINALITY_ESTIMATE = """
WITH la AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
ra AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1),
pk AS (
  SELECT k, CAST(ca AS HUGEINT) * cb AS p FROM la JOIN ra USING (k)
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_common_keys,
         CAST(SUM(p) AS BIGINT) AS join_rows,
         CAST(MAX(p) AS BIGINT) AS max_key_rows
  FROM pk
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS left_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS right_rows,
       n_common_keys, join_rows, max_key_rows
FROM a
"""


def x_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: per micro-batch broadcast join of the
    event stream against the customer dim (stateless — no join state),
    then a watermarked tumbling-day aggregate per market segment
    (streaming/events_stream.py::enriched_segment_stream). Oracle is
    the batch equivalent."""
    from pdcm_etl_spark.streaming.events_stream import (
        enriched_segment_stream,
    )

    return enriched_segment_stream(spark, sf_dir)


SQL_STREAM_STATIC_JOIN = """
SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS win_start,
       c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY 1, 2
"""


def x_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p90 of the event value per event_type in ONE
    rank pass (operators/ml.py::grouped_quantiles) — the bit-exact
    twin of the approx_quantile sketch row: discrete order statistics
    at position ceil(q*n/100), ties broken by event_id, all quantiles
    extracted by one conditional aggregation."""
    from pdcm_etl_spark.operators.ml import grouped_quantiles
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return grouped_quantiles(
        ev, key_col="event_type", id_col="event_id", value_micro=metric
    ).withColumnRenamed("key", "event_type")


SQL_GROUPED_QUANTILES = """
WITH base AS (
  SELECT event_type AS key, event_id AS id,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT key, m,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id) AS rn,
         COUNT(*) OVER (PARTITION BY key) AS n
  FROM base
)
SELECT key AS event_type, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(CASE WHEN rn = (25 * n + 99) // 100 THEN m END)
            AS BIGINT) AS q25_micro,
       CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN m END)
            AS BIGINT) AS q50_micro,
       CAST(MAX(CASE WHEN rn = (75 * n + 99) // 100 THEN m END)
            AS BIGINT) AS q75_micro,
       CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN m END)
            AS BIGINT) AS q90_micro
FROM r GROUP BY key
"""


def x_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 event-type trigram paths across all users
    (operators/temporal.py::event_path_topk): per-user time-ordered
    sequences assembled by one keyed array_sort aggregation, n-gram
    windows map-side (the bigram slice+zip shape), one path count,
    TakeOrderedAndProject top-k with path-string tie-break."""
    from pdcm_etl_spark.operators.temporal import event_path_topk
    from pdcm_etl_spark.plans.catalog import load_events

    return event_path_topk(load_events(spark, sf_dir), n=3, k=20)


SQL_EVENT_PATH_TOPK = """
WITH seq AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id, event_type) AS types
  FROM events GROUP BY user_id
),
grams AS (
  SELECT unnest(list_transform(range(1, len(types) - 1),
                i -> types[i] || '>' || types[i + 1] || '>' || types[i + 2]))
           AS path
  FROM seq WHERE len(types) >= 3
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY path
ORDER BY n_occurrences DESC, path ASC
LIMIT 20
"""


def x_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type moments of the value metric
    (operators/analytics.py::grouped_moments): two keyed passes —
    n/min/max/integer-mean, then the CENTERED second moment against the
    broadcast mean (centering before squaring keeps the decimal sum
    ~1e30 where the textbook n·Σx²−(Σx)² needs ~1e43 and dies)."""
    from pdcm_etl_spark.operators.analytics import grouped_moments
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return grouped_moments(ev, "event_type", metric).withColumnRenamed(
        "key", "event_type"
    )


SQL_GROUPED_MOMENTS = """
WITH base AS (
  SELECT event_type AS key,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(m) AS BIGINT) AS min_micro,
         CAST(MAX(m) AS BIGINT) AS max_micro,
         CAST(SUM(CAST(m AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_micro
  FROM base GROUP BY key
),
c AS (
  SELECT b.key,
         SUM(CAST(b.m - s.mean_micro AS HUGEINT)
             * (b.m - s.mean_micro)) AS m2
  FROM base b JOIN s USING (key)
  GROUP BY b.key
)
SELECT s.key AS event_type, s.n, s.min_micro, s.max_micro, s.mean_micro,
       CAST(c.m2 // s.n AS BIGINT) AS var_micro2,
       CAST(CASE WHEN s.n < 2 THEN NULL ELSE c.m2 // (s.n - 1) END
            AS BIGINT) AS var_sample_micro2
FROM s JOIN c ON c.key = s.key
"""


EXTENSION_B_CATALOG: dict[str, tuple] = {
    "string_agg_ordered": (x_string_agg_ordered, SQL_STRING_AGG_ORDERED),
    "linreg_group": (x_linreg_group, SQL_LINREG_GROUP),
    "chi_square_assoc": (x_chi_square_assoc, SQL_CHI_SQUARE_ASSOC),
    "benford_profile": (x_benford_profile, SQL_BENFORD_PROFILE),
    "entropy_profile": (x_entropy_profile, SQL_ENTROPY_PROFILE),
    "gini_concentration": (x_gini_concentration, SQL_GINI_CONCENTRATION),
    "dq_check": (x_dq_check, SQL_DQ_CHECK),
    "bfs_distance": (x_bfs_distance, SQL_BFS_DISTANCE),
    "sample_weighted": (x_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "bigram_lm_score": (x_bigram_lm_score, SQL_BIGRAM_LM_SCORE),
    "quantile_normalize": (x_quantile_normalize, SQL_QUANTILE_NORMALIZE),
    "er_score_pairs": (x_er_score_pairs, SQL_ER_SCORE_PAIRS),
    "dedup_recall": (x_dedup_recall, _sql_dedup_recall()),
    "dedup_recall_sampled": (
        x_dedup_recall_sampled, _sql_dedup_recall(sample_bp=2500)),
    "stream_dq_monitor": (x_stream_dq_monitor, SQL_STREAM_DQ_MONITOR),
    "sample_weighted_grouped": (
        x_sample_weighted_grouped, SQL_SAMPLE_WEIGHTED_GROUPED),
    "join_cardinality_estimate": (
        x_join_cardinality_estimate, SQL_JOIN_CARDINALITY_ESTIMATE),
    "stream_static_join": (x_stream_static_join, SQL_STREAM_STATIC_JOIN),
    "grouped_quantiles": (x_grouped_quantiles, SQL_GROUPED_QUANTILES),
    "event_path_topk": (x_event_path_topk, SQL_EVENT_PATH_TOPK),
    "grouped_moments": (x_grouped_moments, SQL_GROUPED_MOMENTS),
}
