"""Profiling and statistical analytics (``operators/analytics.py``):
table and key-skew profiles, entropy, Benford, Gini and concentration,
moments, regression, drift and independence tests, data-quality and
referential audits, RFM and audience overlap; plus the sketch queries
(``operators/sketches.py``) and the association-rule queries
(``operators/assoc.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators import sketches
from pdcm_etl_spark.operators.analytics import (
    audience_overlap,
    benford_profile,
    chi_square_assoc,
    chisq_drift,
    concentration_topn,
    crosstab_lift,
    distribution_drift,
    dq_profile,
    entropy_profile,
    fk_orphan_audit,
    gini_concentration,
    grouped_moments,
    json_key_profile,
    key_skew_profile,
    ks_drift,
    linreg_group,
    mode_group,
    nzv_audit,
    pareto_frontier,
    rare_category_collapse,
    rfm_segments,
    table_stats,
)
from pdcm_etl_spark.operators.assoc import association_rules, itemset_pairs
from pdcm_etl_spark.sources.lake import load_events, read_docs, read_table


def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus word stream
    (operators/sketches.heavy_hitters): the real Spark CMS aggregate is
    built and queried; the oracle pins the exact top-20 plus the
    sketch's one-sided-error and eps-bound guarantees as TRUE (the
    approx_distinct pattern — sketch internals aren't engine-portable,
    the sketch CONTRACT is)."""
    docs = read_docs(spark, sf_dir).select("text")
    return sketches.heavy_hitters(docs, k=20, eps=0.001)


SQL_HEAVY_HITTERS = """
WITH w AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS cms_est_ok, TRUE AS cms_within_eps
FROM w WHERE term != ''
GROUP BY term
ORDER BY n DESC, term LIMIT 20
"""


def x_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-summary quantiles (percentile_approx) next to the exact
    discrete percentile per group (operators/sketches.approx_quantiles):
    exact p50/p95 in bigint cents hash-check cross-engine; the sketch's
    rank-error contract is emitted as pinned-TRUE booleans."""
    li = read_table(spark, sf_dir, "lineitem")
    return sketches.approx_quantiles(
        li, "l_extendedprice", "l_returnflag", percentiles=(50, 95)
    ).withColumnRenamed("g", "l_returnflag")


SQL_APPROX_QUANTILE = """
WITH b AS (
  SELECT l_returnflag AS g,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM lineitem
), r AS (
  SELECT g, v,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM b
)
SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(CASE WHEN rn = CAST(ceil(n * 50 / 100) AS BIGINT)
                THEN v END) AS BIGINT) AS p50_cents,
       CAST(MAX(CASE WHEN rn = CAST(ceil(n * 95 / 100) AS BIGINT)
                THEN v END) AS BIGINT) AS p95_cents,
       TRUE AS p50_ok, TRUE AS p95_ok
FROM r GROUP BY g
"""


def x_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemsets over orders: parts co-ordered in the
    same order, support >= 2, integer-ppm lift. Basket-size guard via
    anti-join; total-basket scalar via a broadcast one-row join."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return itemset_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey",
        min_support=2, max_basket=64,
    )


SQL_ITEMSET_PAIRS = """
WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
sizes AS (SELECT bk, COUNT(*) AS n_items FROM bi GROUP BY bk),
g AS (
  SELECT bi.bk, bi.it FROM bi JOIN sizes USING (bk)
  WHERE sizes.n_items <= 64
),
item_n AS (SELECT it, COUNT(*) AS n_it FROM g GROUP BY it),
nb AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM g),
pairs AS (
  SELECT a.it AS item_1, b.it AS item_2, COUNT(*) AS n_pair
  FROM g a JOIN g b ON a.bk = b.bk AND a.it < b.it
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT item_1, item_2, n_pair,
       i1.n_it AS n_1, i2.n_it AS n_2,
       CAST((1000000 * n_pair * nb.n_baskets) // (i1.n_it * i2.n_it)
            AS BIGINT) AS lift_ppm
FROM pairs
JOIN item_n i1 ON i1.it = pairs.item_1
JOIN item_n i2 ON i2.it = pairs.item_2, nb
"""


def x_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of parts minimizing (retail price, size): distinct
    points not dominated by any cheaper-and-smaller point. Bucketed
    prefix-min plan (O(n log n)); the oracle is the textbook NOT EXISTS
    definition — feasible only at test scale, which is the point."""
    part = read_table(spark, sf_dir, "part")
    return pareto_frontier(part, "p_retailprice", "p_size")


SQL_PARETO_FRONTIER = """
WITH pts AS (
  SELECT p_retailprice AS x, p_size AS y, COUNT(*) AS n_rows
  FROM part GROUP BY 1, 2
)
SELECT x, y, n_rows FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y)
)
"""


def x_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest join keys on events.user_id with integer-ppm
    corpus share and per-mille of the average key weight — the
    diagnostics pass that decides salting vs AQE before a 100 TB
    shuffle (operators/analytics.py::key_skew_profile). Data collapses
    to key cardinality in one partial agg; totals re-enter as a 1-row
    broadcast; top-N is TakeOrderedAndProject."""
    return key_skew_profile(load_events(spark, sf_dir), "user_id")


SQL_KEY_SKEW_PROFILE = """
WITH counts AS (
  SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS key_rows
  FROM events GROUP BY 1
), totals AS (
  SELECT CAST(SUM(key_rows) AS BIGINT) AS total_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
)
SELECT key, key_rows,
       CAST((key_rows * 1000000) // total_rows AS BIGINT) AS share_ppm,
       CAST((CAST(key_rows AS HUGEINT) * n_keys * 1000) // total_rows
            AS BIGINT) AS x_avg_permille
FROM counts, totals
ORDER BY key_rows DESC, key ASC
LIMIT 20
"""


def x_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over co-ordered parts: both directions
    of every frequent pair with integer-ppm confidence (asymmetric) and
    lift (operators/assoc.py::association_rules) — one projection on
    top of the pair miner, no extra shuffle."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey",
        min_support=2, min_confidence_ppm=100_000, max_basket=64,
    )


SQL_ASSOC_RULES = """
WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
sizes AS (SELECT bk, COUNT(*) AS n_items FROM bi GROUP BY bk),
g AS (
  SELECT bi.bk, bi.it FROM bi JOIN sizes USING (bk)
  WHERE sizes.n_items <= 64
),
item_n AS (SELECT it, COUNT(*) AS n_it FROM g GROUP BY it),
nb AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM g),
pairs AS (
  SELECT a.it AS item_1, b.it AS item_2, COUNT(*) AS n_pair
  FROM g a JOIN g b ON a.bk = b.bk AND a.it < b.it
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
wide AS (
  SELECT item_1, item_2, n_pair,
         i1.n_it AS n_1, i2.n_it AS n_2,
         CAST((1000000 * n_pair * nb.n_baskets) // (i1.n_it * i2.n_it)
              AS BIGINT) AS lift_ppm
  FROM pairs
  JOIN item_n i1 ON i1.it = pairs.item_1
  JOIN item_n i2 ON i2.it = pairs.item_2, nb
),
rules AS (
  SELECT item_1 AS antecedent, item_2 AS consequent, n_pair,
         n_1 AS n_ante, n_2 AS n_cons, lift_ppm FROM wide
  UNION ALL
  SELECT item_2, item_1, n_pair, n_2, n_1, lift_ppm FROM wide
)
SELECT antecedent, consequent, n_pair, n_ante, n_cons,
       CAST((1000000 * n_pair) // n_ante AS BIGINT) AS confidence_ppm,
       lift_ppm
FROM rules
WHERE (1000000 * n_pair) // n_ante >= 100000
"""


def x_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of orders
    (operators/analytics.py::table_stats): row/non-null/exact-NDV
    counts + string-rendered min/max per column from ONE Expand-based
    aggregation — one scan for the whole profile. The double column is
    profiled for counts but min/max-NULL (no portable text form)."""
    return table_stats(
        read_table(spark, sf_dir, "orders"),
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"],
    )


SQL_TABLE_STATS = """
WITH a AS (
  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
         COUNT(o_orderkey) AS n_nonnull, COUNT(DISTINCT o_orderkey) AS ndv,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
  FROM orders
  UNION ALL
  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
         COUNT(DISTINCT o_custkey),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
         COUNT(DISTINCT o_orderstatus),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
         COUNT(DISTINCT o_totalprice), NULL, NULL
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
         COUNT(DISTINCT o_orderdate),
         strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
         COUNT(DISTINCT o_orderpriority),
         MIN(o_orderpriority), MAX(o_orderpriority)
  FROM orders
)
SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nonnull AS BIGINT) AS n_nonnull,
       CAST(ndv AS BIGINT) AS ndv, min_s, max_s
FROM a
"""


def x_crosstab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source contingency with per-cell integer-ppm lift
    (operators/analytics.py::crosstab_lift): one cell aggregation,
    marginals and grand total re-derived FROM the cells as broadcast
    one-pass re-aggregations — the data is scanned once."""
    return crosstab_lift(read_docs(spark, sf_dir), "lang", "source")


SQL_CROSSTAB_LIFT = """
WITH cells AS (
  SELECT lang AS row_val, source AS col_val, COUNT(*) AS n
  FROM documents GROUP BY 1, 2
),
rn AS (SELECT row_val, SUM(n) AS row_n FROM cells GROUP BY 1),
cn AS (SELECT col_val, SUM(n) AS col_n FROM cells GROUP BY 1),
tt AS (SELECT SUM(n) AS total FROM cells)
SELECT row_val, col_val, CAST(n AS BIGINT) AS n,
       CAST(row_n AS BIGINT) AS row_n, CAST(col_n AS BIGINT) AS col_n,
       CAST((CAST(1000000 AS HUGEINT) * n * total)
            // (row_n * col_n) AS BIGINT) AS lift_ppm
FROM cells JOIN rn USING (row_val) JOIN cn USING (col_val), tt
"""


def x_linreg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of price-cents on quantity
    (operators/analytics.py::linreg_group): one keyed aggregation of
    the five sufficient statistics in DECIMAL(38,0), closed-form
    slope/intercept as integer ppm/milli — distributed regression
    without a second pass or any driver math."""
    li = read_table(spark, sf_dir, "lineitem").select(
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
    return chi_square_assoc(read_docs(spark, sf_dir), "lang", "source")


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
    li = read_table(spark, sf_dir, "lineitem").select(
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
    ev = entropy_profile(load_events(spark, sf_dir), ["event_type"])
    dc = entropy_profile(read_docs(spark, sf_dir), ["lang", "source"])
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
    return gini_concentration(
        read_docs(spark, sf_dir), "lang", "n_chars", "doc_id"
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
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    cust = read_table(spark, sf_dir, "customer")

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


def x_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type moments of the value metric
    (operators/analytics.py::grouped_moments): two keyed passes —
    n/min/max/integer-mean, then the CENTERED second moment against the
    broadcast mean (centering before squaring keeps the decimal sum
    ~1e30 where the textbook n·Σx²−(Σx)² needs ~1e43 and dies)."""
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


def x_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type distribution drift across the 2024-01-16 cutoff
    (operators/analytics.py::distribution_drift): per-category ppm
    shares of the before/after slices and the absolute drift —
    integer-exact total-variation signal (no PSI ln). One conditional
    agg + broadcast totals."""
    ev = load_events(spark, sf_dir)
    return distribution_drift(
        ev, "event_type", F.col("ts") >= F.lit("2024-01-16")
    )


SQL_DISTRIBUTION_DRIFT = """
WITH per_key AS (
  SELECT event_type AS key,
         CAST(SUM(CASE WHEN ts >= '2024-01-16' THEN 0 ELSE 1 END)
              AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN ts >= '2024-01-16' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_after
  FROM events GROUP BY 1
), t AS (
  SELECT SUM(n_before) AS tb, SUM(n_after) AS ta FROM per_key
)
SELECT key, n_before, n_after,
       CAST(CASE WHEN t.tb = 0 THEN 0
            ELSE (CAST(n_before AS HUGEINT) * 1000000) // t.tb END
            AS BIGINT) AS share_before_ppm,
       CAST(CASE WHEN t.ta = 0 THEN 0
            ELSE (CAST(n_after AS HUGEINT) * 1000000) // t.ta END
            AS BIGINT) AS share_after_ppm,
       ABS(CAST(CASE WHEN t.ta = 0 THEN 0
            ELSE (CAST(n_after AS HUGEINT) * 1000000) // t.ta END
            AS BIGINT)
         - CAST(CASE WHEN t.tb = 0 THEN 0
            ELSE (CAST(n_before AS HUGEINT) * 1000000) // t.tb END
            AS BIGINT)) AS drift_ppm
FROM per_key, t
"""


def x_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic of the event value metric across
    the 2024-01-16 cutoff (operators/analytics.py::ks_drift): purely
    rank-based — zero float surface — cross-multiplied ECDF gap in
    DECIMAL, final ppm render. distribution_drift's numeric
    companion."""
    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return ks_drift(
        ev, metric, F.col("ts") >= F.lit("2024-01-16"), id_col="event_id"
    )


SQL_KS_DRIFT = """
WITH tagged AS (
  SELECT CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m,
         event_id AS id,
         CASE WHEN ts >= '2024-01-16' THEN 1 ELSE 0 END AS a
  FROM events WHERE value IS NOT NULL
), cum AS (
  SELECT m, a,
         SUM(a) OVER w AS cum_a,
         COUNT(*) OVER w - SUM(a) OVER w AS cum_b
  FROM tagged
  WINDOW w AS (ORDER BY m, a, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), v AS (
  SELECT m,
         MAX(cum_a) OVER (PARTITION BY m) AS va,
         MAX(cum_b) OVER (PARTITION BY m) AS vb
  FROM cum
), t AS (
  SELECT CAST(SUM(1 - a) AS BIGINT) AS n_before,
         CAST(SUM(a) AS BIGINT) AS n_after
  FROM tagged
)
SELECT t.n_before, t.n_after,
       CAST(CASE WHEN t.n_before = 0 OR t.n_after = 0 THEN NULL
            ELSE (MAX(ABS(CAST(vb AS HUGEINT) * t.n_after
                          - CAST(va AS HUGEINT) * t.n_before)) * 1000000)
                 // (CAST(t.n_before AS HUGEINT) * t.n_after) END
            AS BIGINT) AS ks_ppm
FROM v, t
GROUP BY t.n_before, t.n_after
"""


def x_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square drift decomposition of the event-type mix before vs
    after mid-January (operators/analytics.py::chisq_drift): the exact
    per-category 2xC contribution identity — which categories drove
    the shift, in milli units, one bounded aggregation."""
    ev = load_events(spark, sf_dir)
    return chisq_drift(
        ev, "event_type", F.col("ts") >= F.lit("2024-01-16")
    )


SQL_CHISQ_DRIFT = """
WITH cells AS (
  SELECT event_type AS category,
         CAST(SUM(CASE WHEN ts >= '2024-01-16' THEN 0 ELSE 1 END)
              AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN ts >= '2024-01-16' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_after
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_before) AS BIGINT) AS nb,
         CAST(SUM(n_after) AS BIGINT) AS na
  FROM cells
)
SELECT category, n_before, n_after,
       CAST(CASE WHEN na = 0 OR nb = 0 OR n_before + n_after = 0
            THEN NULL ELSE
            ((CAST(n_after AS HUGEINT) * nb - CAST(n_before AS HUGEINT) * na)
             * (CAST(n_after AS HUGEINT) * nb - CAST(n_before AS HUGEINT) * na)
             * 1000)
              // (CAST(na AS HUGEINT) * nb * (n_before + n_after))
            END AS BIGINT) AS contrib_milli
FROM cells, tot
"""


def x_concentration_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: ppm of total customer revenue
    held by the nation's top-10 customers
    (operators/analytics.py::concentration_topn) — the CRx curve point
    next to gini_concentration's single coefficient."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_nationkey", "c_custkey")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
                .cast("decimal(38,0)")
            )
            .cast("bigint")
            .alias("rev_micro")
        )
    )
    return concentration_topn(
        rev,
        key_col="c_nationkey",
        id_col="c_custkey",
        value_micro=F.col("rev_micro"),
        top_n=10,
    )


SQL_CONCENTRATION_TOPN = """
WITH rev AS (
  SELECT c_nationkey AS key, c_custkey AS id,
         CAST(SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS HUGEINT)) AS BIGINT) AS x
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT key, x,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY x DESC, id) AS rn
  FROM rev
)
SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rn <= 10 THEN CAST(x AS HUGEINT) END)
            AS BIGINT) AS topn_value,
       CAST(SUM(CAST(x AS HUGEINT)) AS BIGINT) AS total_value,
       CAST(CASE WHEN SUM(CAST(x AS HUGEINT)) <= 0 THEN NULL ELSE
            (SUM(CASE WHEN rn <= 10 THEN CAST(x AS HUGEINT) END) * 1000000)
              // SUM(CAST(x AS HUGEINT)) END AS BIGINT) AS topn_share_ppm
FROM ranked GROUP BY 1
"""


def x_mode_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language modal source of the documents corpus
    (operators/analytics.py::mode_group): explicit highest-count /
    smallest-value tie policy — native mode() functions leave ties
    implementation-defined, the exact nondeterminism class the
    determinism screen hunts."""
    return mode_group(read_table(spark, sf_dir, "documents"), "lang", "source")


SQL_MODE_GROUP = """
WITH counts AS (
  SELECT lang AS key, source AS v, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents WHERE source IS NOT NULL GROUP BY 1, 2
), ranked AS (
  SELECT key, v, n,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY n DESC, v) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS ndv
  FROM counts
)
SELECT key, v AS mode_value, n AS mode_n, ndv AS n_distinct_values
FROM ranked WHERE rn = 1
"""


def x_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity pre-flight over the lineitem star
    (operators/analytics.py::fk_orphan_audit): per FK edge, null-key
    and orphan counts via broadcast anti joins — one bounded row per
    edge."""
    li = read_table(spark, sf_dir, "lineitem")
    return fk_orphan_audit(
        li,
        [
            ("l_orderkey", read_table(spark, sf_dir, "orders"), "o_orderkey"),
            ("l_partkey", read_table(spark, sf_dir, "part"), "p_partkey"),
            ("l_suppkey", read_table(spark, sf_dir, "supplier"), "s_suppkey"),
        ],
        fact_name="lineitem",
    )


SQL_FK_ORPHAN_AUDIT = """
SELECT 'lineitem' AS fact, 'l_orderkey' AS fk_col,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
   WHERE l_orderkey IS NULL) AS n_null_fk,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
   WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS n_orphan
UNION ALL
SELECT 'lineitem', 'l_partkey',
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
   WHERE l_partkey IS NULL),
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
   WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'lineitem', 'l_suppkey',
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
   WHERE l_suppkey IS NULL),
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
   WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
     (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
"""


def x_rare_category_collapse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Long-tail collapse of the documents source column at min_n=50
    (operators/analytics.py::rare_category_collapse)."""
    return rare_category_collapse(
        read_table(spark, sf_dir, "documents"), cat_col="source", min_n=50
    )


SQL_RARE_CATEGORY_COLLAPSE = """
WITH counts AS (
  SELECT COALESCE(source, '') AS category,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY 1
)
SELECT CASE WHEN n_rows >= 50 THEN category ELSE '__other__' END
         AS category,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_source_categories
FROM counts GROUP BY 1
"""


def x_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation of customers per nation
    (operators/analytics.py::rfm_segments) — recency on the order-date
    epoch-day, frequency on order count, monetary on micro-exact
    total price; segment table bounded by nations × 5³."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    # customer is data-sized (grows with SF): pin shuffle-hash — the
    # same abortive-broadcast hazard _size_sides documents; rfm's own
    # windows re-shuffle on c_nationkey anyway, so no broadcast win
    joined = orders.join(
        cust.hint("shuffle_hash"), orders["o_custkey"] == cust["c_custkey"]
    )
    return rfm_segments(
        joined,
        group_col="c_nationkey",
        customer_col="o_custkey",
        ts_col="o_orderdate",
        amount_micro=F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS"
            " DECIMAL(38,0))"
        ),
    )


SQL_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT c_nationkey AS g, o_custkey AS c,
         CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
           AS rec,
         CAST(COUNT(*) AS BIGINT) AS frq,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000
                  AS HUGEINT)) AS mon
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT g,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY rec, c)
              AS BIGINT) AS rr,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY frq, c)
              AS BIGINT) AS rf,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY mon, c)
              AS BIGINT) AS rm,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM per_cust
)
SELECT g AS "group",
       CAST(((rr - 1) * 5) // n AS INTEGER) + 1 AS r_bin,
       CAST(((rf - 1) * 5) // n AS INTEGER) + 1 AS f_bin,
       CAST(((rm - 1) * 5) // n AS INTEGER) + 1 AS m_bin,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM ranked GROUP BY 1, 2, 3, 4
"""


def x_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type audience co-membership matrix over users
    (operators/analytics.py::audience_overlap)."""
    ev = load_events(spark, sf_dir)
    return audience_overlap(ev, entity_col="user_id", group_col="event_type")


SQL_AUDIENCE_OVERLAP = """
WITH m AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
)
SELECT a.event_type AS group_a, b.event_type AS group_b,
       CAST(COUNT(*) AS BIGINT) AS n_entities
FROM m a JOIN m b
  ON a.user_id = b.user_id AND a.event_type <= b.event_type
GROUP BY 1, 2
"""


def x_json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key/value spread profile of the events props JSON blob
    (operators/analytics.py::json_key_profile)."""
    return json_key_profile(load_events(spark, sf_dir), json_col="props")


SQL_JSON_KEY_PROFILE = """
WITH kv AS (
  SELECT k AS key, json_extract_string(props, '$.' || k) AS value
  FROM events, unnest(json_keys(props)) AS u(k)
)
SELECT key,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct_values,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM kv GROUP BY 1
"""


def x_nzv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero-variance screen over lineitem's portable columns
    (operators/analytics.py::nzv_audit)."""
    return nzv_audit(
        read_table(spark, sf_dir, "lineitem"),
        cols=["l_returnflag", "l_linestatus", "l_linenumber",
              "l_suppkey"],
    )


SQL_NZV_AUDIT = """
WITH long AS (
  SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS val
  FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem
), counts AS (
  SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS n
  FROM long GROUP BY 1, 2
)
SELECT col_name,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       (MIN({'nn': -n, 'val': val})).val AS mode_value,
       CAST((-((MIN({'nn': -n, 'val': val})).nn)) * 1000000 // SUM(n)
            AS BIGINT) AS mode_share_ppm
FROM counts GROUP BY 1
"""


CATALOG: dict[str, tuple] = {
    "heavy_hitters": (x_heavy_hitters, SQL_HEAVY_HITTERS),
    "approx_quantile": (x_approx_quantile, SQL_APPROX_QUANTILE),
    "itemset_pairs": (x_itemset_pairs, SQL_ITEMSET_PAIRS),
    "pareto_frontier": (x_pareto_frontier, SQL_PARETO_FRONTIER),
    "key_skew_profile": (x_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    "assoc_rules": (x_assoc_rules, SQL_ASSOC_RULES),
    "table_stats": (x_table_stats, SQL_TABLE_STATS),
    "crosstab_lift": (x_crosstab_lift, SQL_CROSSTAB_LIFT),
    "linreg_group": (x_linreg_group, SQL_LINREG_GROUP),
    "chi_square_assoc": (x_chi_square_assoc, SQL_CHI_SQUARE_ASSOC),
    "benford_profile": (x_benford_profile, SQL_BENFORD_PROFILE),
    "entropy_profile": (x_entropy_profile, SQL_ENTROPY_PROFILE),
    "gini_concentration": (x_gini_concentration, SQL_GINI_CONCENTRATION),
    "dq_check": (x_dq_check, SQL_DQ_CHECK),
    "grouped_moments": (x_grouped_moments, SQL_GROUPED_MOMENTS),
    "distribution_drift": (x_distribution_drift, SQL_DISTRIBUTION_DRIFT),
    "ks_drift": (x_ks_drift, SQL_KS_DRIFT),
    "chisq_drift": (x_chisq_drift, SQL_CHISQ_DRIFT),
    "concentration_topn": (x_concentration_topn, SQL_CONCENTRATION_TOPN),
    "mode_group": (x_mode_group, SQL_MODE_GROUP),
    "fk_orphan_audit": (x_fk_orphan_audit, SQL_FK_ORPHAN_AUDIT),
    "rare_category_collapse": (x_rare_category_collapse, SQL_RARE_CATEGORY_COLLAPSE),
    "rfm_segments": (x_rfm_segments, SQL_RFM_SEGMENTS),
    "audience_overlap": (x_audience_overlap, SQL_AUDIENCE_OVERLAP),
    "json_key_profile": (x_json_key_profile, SQL_JSON_KEY_PROFILE),
    "nzv_audit": (x_nzv_audit, SQL_NZV_AUDIT),
}
