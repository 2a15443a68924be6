"""Relational queries: the scans, joins, aggregates, windows, set
operations and scalar kit of SURVEY.md §2, written with DataFrame and
``functions/`` helpers (``functions/joins.py``, ``functions/ids.py``,
``functions/cleaner.py``) over the TPC-H-shaped test lake, plus the
change-data-capture (``operators/cdc.py``) and physical-layout
(``operators/layout.py``) queries. Each query notes what broadcasts,
what shuffles and why the plan survives 1000 executors.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.functions.cleaner import lower_and_trim_all
from pdcm_etl_spark.functions.ids import dense_id
from pdcm_etl_spark.functions.joins import (
    bloom_semi_join,
    join_cardinality_estimate,
    salted_join,
)
from pdcm_etl_spark.operators import cdc
from pdcm_etl_spark.operators.cdc import (
    merge_aggregates,
    snapshot_diff,
    snapshot_field_churn,
)
from pdcm_etl_spark.operators.layout import bucketize, partition_layout, zorder_stats
from pdcm_etl_spark.sources.lake import D182, load_events, read_table


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped groupBy aggregate (the reference's dominant agg shape,
    e.g. search_index_molecular_data_transformer_job.py:219-309).

    Scale: partial (map-side) aggregation then a 2-key shuffle — the
    canonical hash-agg; no skew risk with 6 groups after AQE coalesces.
    """
    li = read_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast(D182) * (
        F.lit(1).cast(D182) - F.col("l_discount").cast(D182)
    )
    # Aggregation stays exact DECIMAL; the *final projection* is bigint
    # fixed-point (cents / 1e-4 units) so the cross-engine canonical form
    # is an integer on both sides (decimal.Decimal vs float64 textual
    # scale mismatch was the round-1 hash failure).
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(F.col("l_quantity").cast(D182)) * 100)
            .cast("bigint")
            .alias("sum_qty_c"),
            (F.sum(F.col("l_extendedprice").cast(D182)) * 100)
            .cast("bigint")
            .alias("sum_base_price_c"),
            (F.sum(dec) * 10000).cast("bigint").alias("sum_disc_price_x10k"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_price_c,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS sum_disc_price_x10k,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + predicate + projection (SURVEY §2.3). Both the filter and the
    4-column read schema push down to the parquet scan (verified via
    .explain → PushedFilters / ReadSchema)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_shipdate") >= F.lit("2000-01-01"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        # bigint fixed-point final projection (canonicalization-safe)
        (F.col("l_extendedprice").cast(D182) * 100).cast("bigint").alias("price_c"),
        (
            F.col("l_extendedprice").cast(D182)
            * (F.lit(1).cast(D182) - F.col("l_discount").cast(D182))
            * 10000
        )
        .cast("bigint")
        .alias("disc_price_x10k"),
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS disc_price_x10k
FROM lineitem
WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '2000-01-01'
"""


def q_join_left_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-resolution left joins through two dims (ref dataframe_functions.py:
    7-63 join_left_dfs). Dims broadcast → no shuffle of the fact side."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select("c_custkey", "n_name", "r_name")
    )


SQL_JOIN_LEFT_FK = """
SELECT c_custkey, n_name, r_name
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


def q_join_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column equi join (ref model_transformer_job.py:88-94,
    molecular_characterization_fk_assigner.py:33-36): lineitem⋈orders on
    (orderkey, status). Single shuffle on the compound key."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderstatus").alias("l_linestatus"),
        "o_orderpriority",
    )
    return (
        li.join(orders, on=["l_orderkey", "l_linestatus"], how="inner")
        .groupBy("l_linestatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


SQL_JOIN_MULTI_KEY = """
SELECT l_linestatus, o_orderpriority, COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey AND l_linestatus = o_orderstatus
GROUP BY l_linestatus, o_orderpriority
"""


def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (ref model_transformer_job.py:103-107 eqNullSafe):
    nulls match nulls; a plain equi join would drop the null group."""
    customer = read_table(spark, sf_dir, "customer")
    left = customer.select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    right = (
        left.select("seg")
        .distinct()
        .select(
            F.col("seg").alias("r_seg"),
            F.concat(F.lit("seg:"), F.coalesce(F.col("seg"), F.lit("NULL"))).alias("label"),
        )
    )
    return (
        left.join(F.broadcast(right), left.seg.eqNullSafe(right.r_seg), "left")
        .groupBy("seg", "label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_JOIN_NULLSAFE = """
WITH leftside AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg FROM customer
), rightside AS (
  SELECT seg AS r_seg, 'seg:' || COALESCE(seg, 'NULL') AS label
  FROM (SELECT DISTINCT seg FROM leftside)
)
SELECT seg, label, COUNT(*) AS n_customers
FROM leftside LEFT JOIN rightside ON seg IS NOT DISTINCT FROM r_seg
GROUP BY seg, label
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (ref treatment_data_aggregator_by_model.py:135-137):
    active customers ⟗ per-customer order counts; both sides have
    unmatched rows."""
    customer = read_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 3000)
    order_counts = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = customer.join(
        order_counts, customer.c_custkey == order_counts.o_custkey, "outer"
    )
    return joined.select(
        F.coalesce(customer.c_custkey, order_counts.o_custkey).alias("custkey"),
        customer.c_custkey.isNotNull().alias("is_active_customer"),
        F.coalesce(order_counts.n_orders, F.lit(0)).alias("n_orders"),
    )


SQL_JOIN_FULL_OUTER = """
WITH active AS (SELECT * FROM customer WHERE c_acctbal > 3000),
oc AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey)
SELECT COALESCE(c_custkey, o_custkey) AS custkey,
       c_custkey IS NOT NULL AS is_active_customer,
       COALESCE(n_orders, 0) AS n_orders
FROM active FULL OUTER JOIN oc ON c_custkey = o_custkey
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (ref treatment_and_component_helper_transformer_job.py:
    84-85): customers with no orders."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_JOIN_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (ref ontology_term_diagnosis_transformer_job.py:47-50
    rewrites isin(collect) → semi): suppliers that shipped something."""
    supplier = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    return supplier.join(
        li, supplier.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


SQL_JOIN_SEMI = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
"""


def q_join_theta_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's expression join `colA || ' ' || colB == entry`
    (molecular_data_links_builder.py:61-64) rewritten as an equi join on a
    precomputed concat key — BroadcastHashJoin instead of BNLJ. That rewrite
    is exactly what survives 100 TB."""
    part = read_table(spark, sf_dir, "part")
    entry = F.concat_ws(" ", F.col("p_brand"), F.col("p_type"))
    lookup = (
        part.filter(F.col("p_size") <= 2).select(entry.alias("entry")).distinct()
    )
    return (
        part.withColumn("entry", entry)
        .join(F.broadcast(lookup), "entry", "inner")
        .groupBy("entry")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


SQL_JOIN_THETA_REWRITE = """
WITH lookup AS (
  SELECT DISTINCT p_brand || ' ' || p_type AS entry FROM part WHERE p_size <= 2
)
SELECT entry, COUNT(*) AS n_parts
FROM part JOIN lookup ON p_brand || ' ' || p_type = entry
GROUP BY entry
"""


def q_correlated_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'exactly one match' semantics of the symbol-harmonisation
    correlated subquery (markers_harmonisation.py:99-141), written the
    idiomatic way: pre-aggregate + join (Catalyst would decorrelate the
    subquery into this same plan)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        customer.join(
            counts,
            (customer.c_custkey == counts.o_custkey) & (counts.cnt == 1),
            "inner",
        )
        .select("c_custkey", "c_name")
    )


SQL_CORRELATED_COUNT = """
SELECT c_custkey, c_name FROM customer c
WHERE (SELECT COUNT(1) FROM orders o WHERE o.o_custkey = c.c_custkey) = 1
"""


def q_array_equality_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued grouping key (the regimen-detection shape: sorted
    collect_set equality, treatment_data_aggregator_by_model.py:276-278).
    Orders grouped by their canonical returnflag basket."""
    li = read_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_returnflag")).alias("basket_arr")
    )
    # grouping happens on the *array* (the operator under test); the final
    # projection serializes it so the driver canonicalizer can hash rows
    return (
        baskets.groupBy("basket_arr")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(F.array_join("basket_arr", "|").alias("basket"), "n_orders")
    )


SQL_ARRAY_EQUALITY_GROUP = """
WITH baskets AS (
  SELECT l_orderkey, list_sort(list_distinct(list(l_returnflag))) AS basket_arr
  FROM lineitem GROUP BY l_orderkey
)
SELECT array_to_string(basket_arr, '|') AS basket, COUNT(*) AS n_orders
FROM baskets GROUP BY basket_arr
"""


def q_harmonisation_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential match-and-remainder cascade (markers_harmonisation.py:
    27-62): stage 1 matches against lookup A, the remainder tries lookup B,
    leftovers labelled 'none'.

    r11 shape: the semi/anti-join-per-stage + union form re-scanned the
    fact once per stage AND re-ran the remainder pipeline per consumer
    (8 part scans in one plan). The cascade is label assignment, not
    row routing — so it is ONE fact scan with each lookup's distinct
    keys attached as a broadcast LEFT join hit marker and the stage
    precedence folded into a CASE (exactly the oracle's shape). A null
    join key never matches either way, so null-brand rows fall through
    identically to the anti-join form."""
    part = read_table(spark, sf_dir, "part")
    lookup_a = (
        part.filter(F.col("p_size") <= 3)
        .select("p_brand")
        .distinct()
        .withColumn("__a", F.lit(1))
    )
    lookup_b = (
        part.filter(F.col("p_size") >= 45)
        .select("p_type")
        .distinct()
        .withColumn("__b", F.lit(1))
    )
    return (
        part.select("p_partkey", "p_brand", "p_type")
        .join(F.broadcast(lookup_a), "p_brand", "left")
        .join(F.broadcast(lookup_b), "p_type", "left")
        .select(
            "p_partkey",
            F.when(F.col("__a") == 1, F.lit("brand"))
            .when(F.col("__b") == 1, F.lit("type"))
            .otherwise(F.lit("none"))
            .alias("matched_by"),
        )
    )


SQL_HARMONISATION_CASCADE = """
SELECT p_partkey,
       CASE
         WHEN p_brand IN (SELECT DISTINCT p_brand FROM part WHERE p_size <= 3) THEN 'brand'
         WHEN p_type  IN (SELECT DISTINCT p_type  FROM part WHERE p_size >= 45) THEN 'type'
         ELSE 'none'
       END AS matched_by
FROM part
"""


def q_sorted_list_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only window pattern (sorted full list per group,
    treatment_data_aggregator_by_model.py:225-256) in its idiomatic rewrite:
    array_sort(collect_set) — one hash agg, no window sort."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        # serialized in the same expression — the sorted-set semantics are
        # identical; '|'-joined for driver canonicalizer hashability
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), "|"
        ).alias("priorities")
    )


SQL_SORTED_LIST_PER_GROUP = """
SELECT o_custkey,
       array_to_string(list_sort(list_distinct(list(o_orderpriority))), '|') AS priorities
FROM orders GROUP BY o_custkey
"""


def q_window_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (beyond-reference; needed by the view layer): latest
    order per customer via row_number with a total-order tiebreak."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


SQL_WINDOW_LATEST = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (orderBy + limit → TakeOrderedAndProject: per-partition
    heaps + driver merge, no global sort shuffle)."""
    customer = read_table(spark, sf_dir, "customer")
    return (
        customer.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(10)
    )


SQL_TOPK = """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10
"""


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName + distinct (the reference's standard set op,
    spark_reader.py:190, publication_group_transformer_job.py:37)."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


SQL_UNION_DISTINCT = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_string_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning kit parity (cleaner.py:8-44): trim/lower composition +
    global regexp_replace."""
    customer = read_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        lower_and_trim_all(F.col("c_name")).alias("clean_name"),
        F.regexp_replace(F.col("c_name"), "[0-9]+", "#").alias("masked_name"),
    )


SQL_STRING_CLEAN = """
SELECT c_custkey,
       lower(trim(regexp_replace(c_name, ' ', ' ', 'g'))) AS clean_name,
       regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked_name
FROM customer
"""


def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract parity (spark_reader.py:54-56 provider extraction,
    molecular_data_links_builder.py:120,136 rs/COSV ids)."""
    customer = read_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.regexp_extract(F.col("c_name"), r"Customer#(\d+)", 1).alias("cust_num"),
    )


SQL_REGEXP_EXTRACT = r"""
SELECT c_custkey, regexp_extract(c_name, 'Customer#(\d+)', 1) AS cust_num
FROM customer
"""


def q_posexplode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + posexplode with positional matching (ref treatment_and_
    component_helper_transformer_job.py:98-133 `+`-separated lists)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word")
    ).select("p_partkey", F.col("pos").cast("int").alias("pos"), "word")


SQL_POSEXPLODE_SPLIT = """
SELECT p_partkey,
       CAST(unnest(range(len(string_split(p_name, ' ')))) AS INTEGER) AS pos,
       unnest(string_split(p_name, ' ')) AS word
FROM part
"""


def q_explode_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unnest + GROUP BY (the views.sql:1113-1141 pattern → explode +
    groupBy().count())."""
    part = read_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EXPLODE_GROUP_COUNT = """
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(string_split(p_name, ' ')) AS word FROM part
) GROUP BY word
"""


def q_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise bucket chain — the `_bin_age` UDF
    (search_index_patient_sample_transformer_job.py:154-172) rebuilt as a
    pure column expression (codegen, no Python round-trip)."""
    customer = read_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 1000, "0 - 999")
        .when(F.col("c_acctbal") < 5000, "1000 - 4999")
        .otherwise("5000+")
    )
    return (
        customer.select(bucket.alias("balance_bucket"))
        .groupBy("balance_bucket")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_CASE_BUCKETS = """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 1000 THEN '0 - 999'
            WHEN c_acctbal < 5000 THEN '1000 - 4999'
            ELSE '5000+' END AS balance_bucket,
       COUNT(*) AS n_customers
FROM customer GROUP BY 1
"""


def q_collect_set_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """markers-per-model analog (search_index_molecular_data_transformer_job
    .py:307-309): sorted supplier set + cardinality per part."""
    li = read_table(spark, sf_dir, "lineitem")
    sset = F.array_sort(F.collect_set("l_suppkey"))
    return li.groupBy("l_partkey").agg(
        # numeric-sorted set, stringified elementwise then '|'-joined so
        # the driver canonicalizer can hash the row
        F.array_join(sset.cast("array<string>"), "|").alias("suppliers"),
        F.size(sset).alias("n_suppliers"),
    )


SQL_COLLECT_SET_MARKERS = """
SELECT l_partkey,
       array_to_string(list_sort(list_distinct(list(l_suppkey))), '|') AS suppliers,
       CAST(len(list_distinct(list(l_suppkey))) AS INTEGER) AS n_suppliers
FROM lineitem GROUP BY l_partkey
"""


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max(when(...)) conditional aggregation (resources_per_model_util.py:
    100-103)."""
    orders = read_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return orders.groupBy("o_custkey").agg(
        F.max(F.when(urgent, F.lit(1)).otherwise(F.lit(0))).alias("has_urgent"),
        F.min(F.when(urgent, F.col("o_orderdate"))).alias("first_urgent_date"),
    )


SQL_CONDITIONAL_AGG = """
SELECT o_custkey,
       MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS has_urgent,
       MIN(CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderdate END) AS first_urgent_date
FROM orders GROUP BY o_custkey
"""


def q_profile_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling operator (available_molecular_data_columns_
    transformer_job.py:151-158): not-null counts over many columns per
    group, in one pass."""
    events = read_table(spark, sf_dir, "events")
    def nn(c: str):
        return F.sum(F.col(c).isNotNull().cast("long")).alias(f"nn_{c}")

    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), nn("user_id"), nn("value"), nn("props")
    )


SQL_PROFILE_NOTNULL = """
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_user_id,
       CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_value,
       CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_props
FROM events GROUP BY event_type
"""


def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless global aggregate — the reference fakes this with a dummy
    lit(0) key (search_facet_transformer_job.py:72-83); df.agg needs none."""
    region = read_table(spark, sf_dir, "region")
    return region.agg(
        F.array_join(F.array_sort(F.collect_set("r_name")), "|").alias("region_names"),
        F.count(F.lit(1)).alias("n_regions"),
    )


SQL_GLOBAL_AGG = """
SELECT array_to_string(list_sort(list_distinct(list(r_name))), '|') AS region_names,
       COUNT(*) AS n_regions
FROM region
"""


def q_json_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json(struct(...)) (nodes_transformer_job.py:119,213) — canonical
    JSON instead of the reference's hand-concatenated strings (§1.2)."""
    nation = read_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.to_json(F.struct(F.col("n_nationkey"), F.col("n_name"))).alias("node_json"),
    )


SQL_JSON_BUILD = """
SELECT n_nationkey,
       to_json(struct_pack(n_nationkey := n_nationkey, n_name := n_name)) AS node_json
FROM nation
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (resources_per_model_util.py:85-86 from_json):
    pull a key out of the events props JSON string."""
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id", F.get_json_object(F.col("props"), "$.k").alias("prop_k")
    )


SQL_JSON_EXTRACT = """
SELECT event_id, json_extract_string(props, '$.k') AS prop_k FROM events
"""


def q_fk_dim_dense_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim-build + FK-assignment pattern (ethnicity_transformer_job.py:
    26-38 + transform_to_fk) with *deterministic* ids: dense_rank over the
    business key replaces monotonically_increasing_id (see functions/ids.py)."""
    customer = read_table(spark, sf_dir, "customer")
    dim = (
        customer.select(F.col("c_mktsegment").alias("segment"))
        .distinct()
        .withColumn("segment_id", dense_id("segment").cast("bigint"))
    )
    return (
        customer.join(F.broadcast(dim), customer.c_mktsegment == dim.segment, "left")
        .groupBy("segment_id", "segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_FK_DIM_DENSE_ID = """
WITH dim AS (
  SELECT segment, CAST(DENSE_RANK() OVER (ORDER BY segment) AS BIGINT) AS segment_id
  FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer)
)
SELECT segment_id, segment, COUNT(*) AS n_customers
FROM customer LEFT JOIN dim ON c_mktsegment = segment
GROUP BY segment_id, segment
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (beyond-reference analytics-view shape): qty by returnflag ×
    linestatus."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(D182)))
        # bigint centi-units final projection (canonicalization-safe)
        .select(
            "l_returnflag",
            (F.col("O") * 100).cast("bigint").alias("qty_open_c"),
            (F.col("F") * 100).cast("bigint").alias("qty_filled_c"),
        )
    )


SQL_PIVOT_STATUS = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS qty_open_c,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS qty_filled_c
FROM lineitem GROUP BY l_returnflag
"""


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events table (batch twin of the
    streaming window job in streaming/)."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            # TIMESTAMP day bucket, not DATE: Spark DATE reaches pandas as
            # object-dtype datetime.date while DuckDB DATE arrives as
            # datetime64, so the driver canonicalizer hashes them apart
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum, final-projected to bigint micro-units
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
    )


SQL_EVENTS_DAILY = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro
FROM events GROUP BY 1, 2
"""


def x_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the events table on (user bucket, day bucket) and emit the
    per-file footer statistics a skipping engine prunes with. Map-side
    bit arithmetic + one bounded statistics agg; the oracle replays the
    identical Morton interleave in SQL."""
    ev = load_events(spark, sf_dir).select(
        F.col("user_id"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_idx"),
    )
    return zorder_stats(ev, "user_id", "day_idx", bits=7, n_files=32)


def _sql_zorder_layout(bits: int = 7, n_files: int = 32) -> str:
    """Oracle: the same Morton interleave, DuckDB bit-operator dialect."""
    terms = []
    for i in range(bits):
        terms.append(f"(((zx >> {i}) & 1) << {2 * i})")
        terms.append(f"(((zy >> {i}) & 1) << {2 * i + 1})")
    z = "\n         + ".join(terms)
    mask = (1 << bits) - 1
    width = max(1, (1 << (2 * bits)) // n_files)
    return f"""
WITH base AS (
  SELECT CAST(user_id & {mask} AS BIGINT) AS zx,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              & {mask} AS BIGINT) AS zy
  FROM events
),
zz AS (
  SELECT zx, zy,
         {z} AS zval
  FROM base
)
SELECT CAST(zval // {width} AS INTEGER) AS file_id,
       COUNT(*) AS n_rows,
       CAST(MIN(zx) AS BIGINT) AS x_min,
       CAST(MAX(zx) AS BIGINT) AS x_max,
       CAST(MIN(zy) AS BIGINT) AS y_min,
       CAST(MAX(zy) AS BIGINT) AS y_max,
       CAST(MIN(zval) AS BIGINT) AS z_min,
       CAST(MAX(zval) AS BIGINT) AS z_max
FROM zz
GROUP BY file_id
"""


def x_bucket_cojoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketed layout: orders and
    lineitem are written bucketed on the order key (the one-time layout
    cost), then joined and aggregated on that key with ZERO Exchange in
    the plan — the co-located-join pattern that makes repeated 100 TB
    fact joins affordable. Plan-pinned exchange-free
    (tests/test_plan_shapes.py)."""
    base = os.path.join(tempfile.gettempdir(), "pdcm_bucket_tables")
    o = bucketize(
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderkey", 8, "pdcm_bucket_orders", f"{base}/orders",
    )
    li = bucketize(
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
        ),
        "l_orderkey", 8, "pdcm_bucket_lineitem", f"{base}/lineitem",
    )
    d182 = "decimal(18,2)"
    disc = F.col("l_extendedprice").cast(d182) * (
        F.lit(1).cast(d182) - F.col("l_discount").cast(d182)
    )
    return (
        # hint("merge"): at test scale Catalyst would broadcast the
        # orders side, which also avoids the shuffle but proves nothing —
        # at 100 TB neither fact side broadcasts. The hint forces the
        # sort-merge path the big cluster would take, and the plan pin
        # asserts it runs on the bucketed distribution with no Exchange.
        o.hint("merge").join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.max("o_orderstatus").alias("order_status"),
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(F.col("l_quantity").cast(d182)) * 100)
            .cast("bigint")
            .alias("sum_qty_c"),
            (F.sum(disc) * 10000).cast("bigint").alias("revenue_x10k"),
        )
    )


SQL_BUCKET_COJOIN = """
SELECT o_orderkey, MAX(o_orderstatus) AS order_status,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS sum_qty_c,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT)
         AS revenue_x10k
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey
"""


def x_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-type rollup maintained as
    aggregate(snapshot) ⊕ aggregate(delta) — the merge must equal the
    full recompute (which is exactly what the oracle runs), proving the
    split point cannot leak into the result. Counts/sums merge as sums,
    first/last as min/max."""
    ev = load_events(spark, sf_dir)
    cutoff = "2024-01-16"

    def agg_part(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )

    snap = agg_part(ev.filter(F.col("ts") < F.lit(cutoff)))
    delta = agg_part(ev.filter(F.col("ts") >= F.lit(cutoff)))
    return merge_aggregates(
        snap, delta, ["event_type"],
        sum_cols=["n_events", "sum_value_micro"],
        min_cols=["first_ts"], max_cols=["last_ts"],
    )


SQL_IVM_MERGE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY 1
"""


def x_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join: lineitem restricted to urgent orders via
    a broadcast bloom filter BEFORE the exact semi-join — only
    bloom-surviving rows reach the shuffle; the exact join makes the
    result exact (false positives removed), so the oracle is the plain
    IN-subquery aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    semi = bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", num_bits=1_048_576,
    )
    return semi.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("sum_qty_c"),
    )


SQL_BLOOM_PRUNE_JOIN = """
SELECT l_returnflag, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS sum_qty_c
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag
"""


def x_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension merge (operators/cdc.py): seed the dimension with
    each user's FIRST event (open row), merge the batch of LAST events —
    users whose type changed get their first row closed at the update
    timestamp plus a new open row; unchanged users keep one open row."""
    ev = load_events(spark, sf_dir)
    wf = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wl = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    dim = (
        ev.withColumn("__rn", F.row_number().over(wf))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    updates = (
        ev.withColumn("__rn", F.row_number().over(wl))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "ts")
    )
    return cdc.scd2_merge(dim, updates, keys=["user_id"], tracked=["event_type"])


SQL_SCD2_MERGE = """
WITH first_e AS (
  SELECT user_id, event_type, ts FROM (
    SELECT user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC) AS rn
    FROM events) WHERE rn = 1
), last_e AS (
  SELECT user_id, event_type, ts FROM (
    SELECT user_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
)
SELECT f.user_id, f.event_type, f.ts AS valid_from,
       CASE WHEN f.event_type = l.event_type THEN NULL ELSE l.ts END AS valid_to,
       (f.event_type = l.event_type) AS is_current
FROM first_e f JOIN last_e l USING (user_id)
UNION ALL
SELECT l.user_id, l.event_type, l.ts AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
FROM first_e f JOIN last_e l USING (user_id)
WHERE f.event_type <> l.event_type
"""


def x_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned event lake + partition-pruned scan: events are
    written ``partitionBy(event_date)`` (the one-time layout cost, one
    file per day — ``operators/layout.py::partition_layout``), then a
    one-week aggregate filters on the partition column. Pruning happens
    at PLANNING time: the scan's ``PartitionFilters`` carry the date
    bounds and excluded directories are never listed into tasks —
    plan-pinned to 7 of 30 partitions (tests/test_plan_shapes.py).
    Oracle: the same aggregate over the unpartitioned table."""
    ev = load_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    # layout dir keyed on the Spark applicationId: two concurrent
    # sessions (bench + correctness gate) each get their own directory,
    # so one session's overwrite can never be listed mid-write by the
    # other (r5 advice). Removal is atexit, not inline — the returned
    # DataFrame lazily reads the directory; within one session repeat
    # calls reuse the same path (mode=overwrite), so no per-call leak.
    layout_dir = os.path.join(
        tempfile.gettempdir(),
        f"pdcm_partitioned_events_{spark.sparkContext.applicationId}",
    )
    atexit.register(shutil.rmtree, layout_dir, ignore_errors=True)
    part = partition_layout(ev, "event_date", layout_dir)
    return (
        part.filter(
            (F.col("event_date") >= F.lit("2024-01-08").cast("date"))
            & (F.col("event_date") <= F.lit("2024-01-14").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_value_micro"),
        )
    )


SQL_PARTITION_PRUNE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type
"""


def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-regression diff between two entity snapshots
    (operators/cdc.py::snapshot_diff): old = orders minus every 7th
    key, new = orders minus every 11th key with every 5th priority
    rewritten — so the diff must report exactly the %7 adds, %11
    removes and %5 changes. Only (key, digest) ever shuffles; the
    oracle recomputes both snapshots and the same NULL-encoded md5
    digest in SQL."""
    base = read_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        # timestamp rendering differs between engines — pin the format
        "date_format(o_orderdate, 'yyyy-MM-dd') AS o_date",
    )
    old = base.filter("o_orderkey % 7 != 0")
    new = base.filter("o_orderkey % 11 != 0").withColumn(
        "o_orderpriority",
        F.expr(
            "CASE WHEN o_orderkey % 5 = 0 "
            "THEN concat(o_orderpriority, '-R2') ELSE o_orderpriority END"
        ),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


SQL_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date
  FROM orders
), old AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31),
             coalesce(o_orderstatus, chr(0)),
             coalesce(o_orderpriority, chr(0)),
             coalesce(o_date, chr(0)))) AS old_hash
  FROM base WHERE o_orderkey % 7 != 0
), new AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31),
             coalesce(o_orderstatus, chr(0)),
             coalesce(CASE WHEN o_orderkey % 5 = 0
                      THEN o_orderpriority || '-R2'
                      ELSE o_orderpriority END, chr(0)),
             coalesce(o_date, chr(0)))) AS new_hash
  FROM base WHERE o_orderkey % 11 != 0
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash != new_hash THEN 'changed' END AS status,
       old_hash, new_hash
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE (old_hash IS NULL) OR (new_hash IS NULL) OR (old_hash != new_hash)
"""


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi join (functions/joins.py::salted_join): fact side
    salted on a deterministic per-row hash, dim side replicated ×8 — the
    pathological-hot-key plan AQE's skew splitting can't always save
    (one key larger than an executor). Salting is plan-only: the result
    equals the plain join, which is exactly what the oracle asserts."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("decimal(18,2)").alias("qty")
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(
        li.withColumnRenamed("l_suppkey", "k"),
        supp.withColumnRenamed("s_suppkey", "k"),
        on=["k"], how="inner", salt_buckets=8,
    )
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("qty") * 100).cast("bigint").alias("qty_c"),
    )


SQL_JOIN_SALTED_SKEW = """
SELECT s_nationkey, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_c
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() frame navigation (SURVEY §2.6 gap-filler for the analytics
    surface): per-customer consecutive order price delta. Total order
    (orderdate, orderkey) makes lag deterministic; decimal arithmetic on
    both engines."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # bigint cents throughout (driver-canonicalizer-safe): lag over the
    # integer form is exact and identically typed on both engines
    price_c = (F.col("o_totalprice").cast(D182) * 100).cast("bigint")
    return (
        orders.withColumn("price_c", price_c)
        .withColumn("prev_price_c", F.lag("price_c").over(w))
        .select(
            "o_custkey",
            "o_orderkey",
            "price_c",
            "prev_price_c",
            (F.col("price_c") - F.col("prev_price_c")).alias("delta_c"),
        )
    )


SQL_WINDOW_LAG_DELTA = """
WITH p AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
  FROM orders
)
SELECT o_custkey, o_orderkey, price_c,
       LAG(price_c) OVER w AS prev_price_c,
       price_c - LAG(price_c) OVER w AS delta_c
FROM p
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((returnflag), (linestatus)) — the general
    form behind rollup/cube; per-set subtotals in one aggregation pass."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("l_quantity").cast(D182)) * 100).cast("bigint").alias("sum_qty_c"),
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice (20 bins) — the column-
    profiling companion to profile_notnull. Bin ids are pure INTEGER
    arithmetic on exact cents ((price_c − 90000) div 520500, clamped to
    [0, 19]) — no float division anywhere, so a cents value landing
    exactly on a bin boundary can never round to the wrong side (the
    double-division form risked floor(k − ulp) = k−1 on exact
    multiples); counts and decimal sums per bin."""
    li = read_table(spark, sf_dir, "lineitem")
    price_c = (F.col("l_extendedprice").cast(D182) * 100).cast("bigint")
    raw_bin = F.expr("(__pc - 90000) div 520500")
    bin_id = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(19)).cast("int")
    return (
        li.select(price_c.alias("__pc"), "l_extendedprice")
        .select(bin_id.alias("bin_id"), "l_extendedprice")
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("l_extendedprice").cast(D182)) * 100)
            .cast("bigint")
            .alias("sum_price_c"),
        )
    )


SQL_PROFILE_HISTOGRAM = """
SELECT CAST(LEAST(GREATEST(
             (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              - 90000) // 520500, 0), 19) AS INTEGER) AS bin_id,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price_c
FROM lineitem GROUP BY 1
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot of four lineitem measures (the API layer's
    melt operation). Spark's native unpivot/melt; the oracle is the
    portable UNION ALL form. Decimal-cast before unpivoting so the value
    column has one exact type."""
    li = read_table(spark, sf_dir, "lineitem")
    # bigint cents before unpivoting: one exact integer value type
    # (driver-canonicalizer-safe on both engines)
    def cents(c: str):
        return (F.col(c).cast(D182) * 100).cast("bigint")

    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        cents("l_quantity").alias("quantity"),
        cents("l_extendedprice").alias("extendedprice"),
        cents("l_discount").alias("discount"),
        cents("l_tax").alias("tax"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount", "tax"],
        "metric",
        "value_c",
    )


SQL_UNPIVOT_METRICS = """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
       CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_c FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice',
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount',
       CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax',
       CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) FROM lineitem
"""


def q_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows
    with NULL group indicators — same semantics both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        # exact decimal agg, bigint centi-unit final projection
        # (driver-canonicalizer-safe)
        .agg((F.sum(F.col("l_quantity").cast(D182)) * 100).cast("bigint").alias("sum_qty_c"))
    )


SQL_ROLLUP_TOTALS = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_CUBE_COUNTS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nation keys having both customers and suppliers."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


SQL_INTERSECT_KEYS = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).exceptAll(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    ).distinct()


SQL_EXCEPT_KEYS = """
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey AS nationkey FROM supplier
)
"""


def q_json_agg_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jsonb_agg of subquery rows (views.sql:1147-1162) →
    to_json(array_sort(collect_list(struct(...)))) — list sorted for
    cross-engine determinism."""
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.to_json(
                F.array_sort(
                    F.collect_list(F.struct(F.col("n_nationkey"), F.col("n_name")))
                )
            ).alias("nations_json")
        )
    )


SQL_JSON_AGG_STRUCT = """
SELECT r_name,
       to_json(list_sort(list(struct_pack(n_nationkey := n_nationkey, n_name := n_name)))) AS nations_json
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT_PART(x,'/',1) (views.sql:1113-1126) → split(x,' ')[0] here
    over part names."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.split(F.col("p_name"), " ").getItem(0).alias("first_word")
    )


SQL_SPLIT_PART = """
SELECT p_partkey, split_part(p_name, ' ', 1) AS first_word FROM part
"""


def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date kit: year/month extraction, month truncation + interval add."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        # TIMESTAMP, not DATE: Spark DATE → pandas object datetime.date,
        # DuckDB DATE → datetime64; the driver hashes them differently
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.add_months(F.date_trunc("month", F.col("o_orderdate")), 1)
        .cast("timestamp")
        .alias("next_month"),
    )


SQL_DATE_ARITHMETIC = """
SELECT o_orderkey,
       CAST(date_part('year', o_orderdate) AS INTEGER) AS order_year,
       CAST(date_part('month', o_orderdate) AS INTEGER) AS order_month,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS TIMESTAMP) AS next_month
FROM orders
"""


def q_string_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lpad / substr / instr / reverse / repeat string functions."""
    nation = read_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("padded"),
        F.substring("n_name", 2, 3).alias("middle"),
        F.instr(F.col("n_name"), "A").cast("bigint").alias("a_pos"),
        F.reverse("n_name").alias("reversed"),
        F.repeat(F.lit("*"), F.col("n_nationkey") % 3 + 1).alias("stars"),
    )


SQL_STRING_KIT = """
SELECT n_nationkey,
       lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded,
       substr(n_name, 2, 3) AS middle,
       CAST(instr(n_name, 'A') AS BIGINT) AS a_pos,
       reverse(n_name) AS reversed,
       repeat('*', n_nationkey % 3 + 1) AS stars
FROM nation
"""


def q_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous median per group (both engines interpolate the
    same way; result floored to basis points for float determinism)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.floor(
            F.expr("percentile(l_quantity, 0.5)") * 10000
        ).cast("bigint").alias("median_qty_bp")
    )


SQL_EXACT_PERCENTILE = """
SELECT l_returnflag,
       CAST(FLOOR(quantile_cont(l_quantity, 0.5) * 10000) AS BIGINT) AS median_qty_bp
FROM lineitem GROUP BY l_returnflag
"""


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quantile bucketing — the curriculum-binning idiom (assign
    each doc/row to one of N difficulty/quality buckets). Partitioned by
    returnflag so no global single-partition window; total order inside
    each partition makes the bucket assignment deterministic."""
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.ntile(4).over(w).alias("qty_quartile"),
    )


SQL_WINDOW_NTILE = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       CAST(ntile(4) OVER (
         PARTITION BY l_returnflag
         ORDER BY l_quantity, l_orderkey, l_linenumber) AS INTEGER) AS qty_quartile
FROM lineitem
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (HLL). Sketch values differ across
    engines, so the RAW approx value cannot be hash-checked — instead the
    query emits the exact count plus a BOUND assertion (HLL estimate
    within its 5% rsd of exact), which IS engine-portable: the oracle
    pins the exact count and the bound as literally true. This converts
    the round-2 rows-only row into a hash-green property check while
    still exercising the real HLL sketch aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx"),
            F.count_distinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx") - F.col("exact_parts"))
                <= 0.15 * F.col("exact_parts")
            ).alias("approx_within_3rsd"),
        )
    )


SQL_APPROX_DISTINCT = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_within_3rsd
FROM lineitem GROUP BY l_returnflag
"""


def q_grouped_topk(spark, sf_dir):
    """Top-3 parts by retail price per brand (id tie-break) — the
    per-group top-k every leaderboard/sampling pipeline needs. Window
    rank partitions by the group key: with many groups the sort is
    fully parallel, and rank<=k prunes before anything else runs
    (WindowGroupLimit pushes the limit into the sort at scale)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.select(
            "p_brand", "p_partkey", "p_retailprice",
            F.row_number().over(w).alias("rank_in_brand"),
        )
        .filter(F.col("rank_in_brand") <= 3)
    )


SQL_GROUPED_TOPK = """
SELECT p_brand, p_partkey, p_retailprice, rank_in_brand
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
         ) AS INTEGER) AS rank_in_brand
  FROM part
)
WHERE rank_in_brand <= 3
"""


def x_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with deterministic ordering — the
    reference's jsonb_agg-style report columns as sorted CSV (the
    form every SQL warehouse exposes as LISTAGG ... WITHIN GROUP).
    Spark has no ordered string_agg; the scale-honest composition is
    collect_set → array_sort → array_join (set dedup map-side, sort
    bounded by per-group distinct cardinality, never a global sort)."""
    return (
        read_table(spark, sf_dir, "orders")
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


def x_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-join output cardinality WITHOUT executing the join
    (functions/joins.py::join_cardinality_estimate): orders x lineitem
    on the orderkey — two keyed count aggs + a key-sized join reduce
    to one row; the row-explosion pre-flight that pairs with
    key_skew_profile before a 100 TB fact-fact join."""
    return join_cardinality_estimate(
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
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


def x_snapshot_field_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level churn between the snapshot_diff pair of order
    snapshots (operators/cdc.py::snapshot_field_churn) — which columns
    actually changed among persisting keys."""
    base = read_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS o_date",
    )
    old = base.filter("o_orderkey % 7 != 0")
    new = base.filter("o_orderkey % 11 != 0").withColumn(
        "o_orderpriority",
        F.expr(
            "CASE WHEN o_orderkey % 5 = 0 "
            "THEN concat(o_orderpriority, '-R2') ELSE o_orderpriority END"
        ),
    )
    return snapshot_field_churn(
        old, new, "o_orderkey",
        fields=["o_orderstatus", "o_orderpriority", "o_date"],
    )


SQL_SNAPSHOT_FIELD_CHURN = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date
  FROM orders
), old AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0
              THEN o_orderpriority || '-R2' ELSE o_orderpriority END
           AS o_orderpriority,
         o_date
  FROM base WHERE o_orderkey % 11 <> 0
), one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderstatus IS DISTINCT FROM
                            n.o_orderstatus THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS chg_status,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderpriority IS DISTINCT FROM
                            n.o_orderpriority THEN 1 ELSE 0 END), 0)
           AS BIGINT) AS chg_prio,
         CAST(COALESCE(SUM(CASE WHEN o.o_date IS DISTINCT FROM n.o_date
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS chg_date
  FROM old o JOIN new n USING (o_orderkey)
), long AS (
  SELECT 'o_orderstatus' AS col_name, chg_status AS n_changed, n_rows
  FROM one
  UNION ALL
  SELECT 'o_orderpriority', chg_prio, n_rows FROM one
  UNION ALL
  SELECT 'o_date', chg_date, n_rows FROM one
)
SELECT col_name, n_rows AS n_persisting, n_changed,
       CAST(CASE WHEN n_rows = 0 THEN 0
            ELSE n_changed * 1000000 // n_rows END AS BIGINT) AS churn_ppm
FROM long
"""


CATALOG: dict[str, tuple] = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "filter_project": (q_filter_project, SQL_FILTER_PROJECT),
    "join_left_fk": (q_join_left_fk, SQL_JOIN_LEFT_FK),
    "join_multi_key": (q_join_multi_key, SQL_JOIN_MULTI_KEY),
    "join_nullsafe": (q_join_nullsafe, SQL_JOIN_NULLSAFE),
    "join_full_outer": (q_join_full_outer, SQL_JOIN_FULL_OUTER),
    "join_anti": (q_join_anti, SQL_JOIN_ANTI),
    "join_semi": (q_join_semi, SQL_JOIN_SEMI),
    "join_theta_rewrite": (q_join_theta_rewrite, SQL_JOIN_THETA_REWRITE),
    "correlated_count": (q_correlated_count, SQL_CORRELATED_COUNT),
    "array_equality_group": (q_array_equality_group, SQL_ARRAY_EQUALITY_GROUP),
    "harmonisation_cascade": (q_harmonisation_cascade, SQL_HARMONISATION_CASCADE),
    "sorted_list_per_group": (q_sorted_list_per_group, SQL_SORTED_LIST_PER_GROUP),
    "window_latest": (q_window_latest, SQL_WINDOW_LATEST),
    "topk": (q_topk, SQL_TOPK),
    "union_distinct": (q_union_distinct, SQL_UNION_DISTINCT),
    "string_clean": (q_string_clean, SQL_STRING_CLEAN),
    "regexp_extract": (q_regexp_extract, SQL_REGEXP_EXTRACT),
    "posexplode_split": (q_posexplode_split, SQL_POSEXPLODE_SPLIT),
    "explode_group_count": (q_explode_group_count, SQL_EXPLODE_GROUP_COUNT),
    "case_buckets": (q_case_buckets, SQL_CASE_BUCKETS),
    "collect_set_markers": (q_collect_set_markers, SQL_COLLECT_SET_MARKERS),
    "conditional_agg": (q_conditional_agg, SQL_CONDITIONAL_AGG),
    "profile_notnull": (q_profile_notnull, SQL_PROFILE_NOTNULL),
    "global_agg": (q_global_agg, SQL_GLOBAL_AGG),
    "json_build": (q_json_build, SQL_JSON_BUILD),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "fk_dim_dense_id": (q_fk_dim_dense_id, SQL_FK_DIM_DENSE_ID),
    "pivot_status": (q_pivot_status, SQL_PIVOT_STATUS),
    "events_daily": (q_events_daily, SQL_EVENTS_DAILY),
    "zorder_layout": (x_zorder_layout, _sql_zorder_layout()),
    "bucket_cojoin": (x_bucket_cojoin, SQL_BUCKET_COJOIN),
    "ivm_merge": (x_ivm_merge, SQL_IVM_MERGE),
    "bloom_prune_join": (x_bloom_prune_join, SQL_BLOOM_PRUNE_JOIN),
    "scd2_merge": (x_scd2_merge, SQL_SCD2_MERGE),
    "partition_prune": (x_partition_prune, SQL_PARTITION_PRUNE),
    "snapshot_diff": (x_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "join_salted_skew": (q_join_salted_skew, SQL_JOIN_SALTED_SKEW),
    "window_lag_delta": (q_window_lag_delta, SQL_WINDOW_LAG_DELTA),
    "grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "profile_histogram": (q_profile_histogram, SQL_PROFILE_HISTOGRAM),
    "unpivot_metrics": (q_unpivot_metrics, SQL_UNPIVOT_METRICS),
    "rollup_totals": (q_rollup_totals, SQL_ROLLUP_TOTALS),
    "cube_counts": (q_cube_counts, SQL_CUBE_COUNTS),
    "intersect_keys": (q_intersect_keys, SQL_INTERSECT_KEYS),
    "except_keys": (q_except_keys, SQL_EXCEPT_KEYS),
    "json_agg_struct": (q_json_agg_struct, SQL_JSON_AGG_STRUCT),
    "split_part": (q_split_part, SQL_SPLIT_PART),
    "date_arithmetic": (q_date_arithmetic, SQL_DATE_ARITHMETIC),
    "string_kit": (q_string_kit, SQL_STRING_KIT),
    "exact_percentile": (q_exact_percentile, SQL_EXACT_PERCENTILE),
    "window_ntile": (q_window_ntile, SQL_WINDOW_NTILE),
    "approx_distinct": (q_approx_distinct, SQL_APPROX_DISTINCT),
    "grouped_topk": (q_grouped_topk, SQL_GROUPED_TOPK),
    "string_agg_ordered": (x_string_agg_ordered, SQL_STRING_AGG_ORDERED),
    "join_cardinality_estimate": (
        x_join_cardinality_estimate,
        SQL_JOIN_CARDINALITY_ESTIMATE,
    ),
    "snapshot_field_churn": (x_snapshot_field_churn, SQL_SNAPSHOT_FIELD_CHURN),
}
