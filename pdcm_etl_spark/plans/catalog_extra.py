"""Second relational operator tranche: rollup/cube, set ops, JSON
aggregation, date arithmetic, string kit, split_part, exact percentile.

These cover the Postgres-layer operators of SURVEY §2.12 that the first
tranche didn't (jsonb_agg → to_json(collect_list(struct)), SPLIT_PART,
grouped totals) plus standard analytics surface (rollup, intersect/except,
date math). Determinism rules as in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.plans.catalog import D182, _t


def q_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows
    with NULL group indicators — same semantics both engines."""
    li = _t(spark, sf_dir, "lineitem")
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
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_CUBE_COUNTS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nation keys having both customers and suppliers."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
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
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
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
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
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
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.split(F.col("p_name"), " ").getItem(0).alias("first_word")
    )


SQL_SPLIT_PART = """
SELECT p_partkey, split_part(p_name, ' ', 1) AS first_word FROM part
"""


def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date kit: year/month extraction, month truncation + interval add."""
    orders = _t(spark, sf_dir, "orders")
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
    nation = _t(spark, sf_dir, "nation")
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
    li = _t(spark, sf_dir, "lineitem")
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
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
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
    li = _t(spark, sf_dir, "lineitem")
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


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() frame navigation (SURVEY §2.6 gap-filler for the analytics
    surface): per-customer consecutive order price delta. Total order
    (orderdate, orderkey) makes lag deterministic; decimal arithmetic on
    both engines."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
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
    li = _t(spark, sf_dir, "lineitem")
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
    li = _t(spark, sf_dir, "lineitem")
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
    li = _t(spark, sf_dir, "lineitem")
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


def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi join (functions/joins.py::salted_join): fact side
    salted on a deterministic per-row hash, dim side replicated ×8 — the
    pathological-hot-key plan AQE's skew splitting can't always save
    (one key larger than an executor). Salting is plan-only: the result
    equals the plain join, which is exactly what the oracle asserts."""
    from pdcm_etl_spark.functions.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("decimal(18,2)").alias("qty")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
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


def q_etl_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline query: synthesize raw provider modules from
    the TPC tables, run the full metadata DAG, return the search_index
    with the reference's full 67-column declared list (plans/synth.py).
    Fully hash-checked since round 4: the internal id became the
    engine-portable md5-based hash of (external_model_id, provider)
    (transforms/model.py, round-3 verdict item 4), so the oracle is the
    wide 66-column SQL plus a re-derived pdcm_model_id."""
    from pdcm_etl_spark.plans.synth import run_etl_search_index

    return run_etl_search_index(spark, sf_dir)


# Body of the etl_search_index oracle (_sql_etl_search_index_full): every
# search_index column except the portable internal id, re-derived in pure
# SQL from the synth workload's key arithmetic (plans/synth.py) composed
# with the pipeline semantics.
# Display strings produced by initcap-style cleaners are hardcoded
# (Spark initcap capitalizes every word); JSON aggregate columns are
# re-built as literal to_json output (sorted single-element arrays).
SQL_ETL_SEARCH_INDEX_WIDE = """
WITH prov AS (
  SELECT n_nationkey, n_name, r_name AS provider_name,
         replace(r_name, ' ', '_') AS prov
  FROM nation JOIN region ON n_regionkey = r_regionkey
), cust AS (
  -- ethnicity dim init-caps the lowered nation name (functions/cleaner
  -- init_cap_and_trim_all): first letter upper, rest as lowered
  SELECT c_custkey, p.provider_name, p.prov,
         upper(substr(lower(p.n_name), 1, 1)) || substr(lower(p.n_name), 2)
           AS ethnicity,
         CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END AS patient_sex
  FROM customer JOIN prov p ON c_nationkey = p.n_nationkey
), o AS (
  SELECT o_orderkey AS ok, o_custkey AS ck,
         c.prov, c.provider_name, c.patient_sex, c.ethnicity
  FROM orders JOIN cust c ON o_custkey = c.c_custkey
), li AS (
  SELECT l_orderkey AS ok, CAST(l_linenumber AS INTEGER) AS ln,
         CAST(l_partkey AS BIGINT) AS pk
  FROM lineitem
), muts AS (
  SELECT ok,
         array_to_string(list_sort(list_distinct(list('GENE' || (pk % 2000)))), '|')
           AS markers
  FROM li GROUP BY ok
), bio AS (
  -- biomarker module (ok%6=0): line 1 carries the IHC panel gene
  SELECT ok, array_to_string(list_sort(list_distinct(list(
           CASE WHEN ln = 1 THEN
             CASE pk % 3 WHEN 0 THEN 'ERBB2' WHEN 1 THEN 'ESR1' ELSE 'PGR' END
           ELSE 'GENE' || (pk % 2000) END))), '|') AS bio_markers
  FROM li WHERE ok % 6 = 0 GROUP BY ok
), breast AS (
  -- display-name map + positive/negative filter (Undetermined dropped)
  SELECT ok, array_to_string(list_sort(list_distinct(list(
           (CASE pk % 3 WHEN 0 THEN 'HER2/ERBB2' WHEN 1 THEN 'ER/ESR1'
                 ELSE 'PR/PGR' END)
           || ' ' ||
           (CASE (pk + 1) % 3 WHEN 0 THEN 'positive' ELSE 'negative' END)))), '|')
           AS bc
  FROM li WHERE ok % 6 = 0 AND ln = 1 AND (pk + 1) % 3 != 2 GROUP BY ok
), annot AS (
  -- downloaded-resource gene slices (plans/synth.py resource_defs)
  SELECT ok, list_sort(list_distinct(flatten(list(
           (CASE WHEN pk % 2000 < 400 THEN ['CIViC'] ELSE []::VARCHAR[] END)
           || (CASE WHEN pk % 2000 >= 200 AND pk % 2000 < 700
                    THEN ['OncoMX'] ELSE []::VARCHAR[] END)
           || (CASE WHEN pk % 2000 >= 600 AND pk % 2000 < 1200
                    THEN ['ClinGen'] ELSE []::VARCHAR[] END)
           || (CASE WHEN pk % 2000 >= 1000 AND pk % 2000 < 1800
                    THEN ['CancerMine'] ELSE []::VARCHAR[] END)
         )))) AS res
  FROM li GROUP BY ok
), dosing AS (
  -- drug_dosing: line 1 of pdx orders; every 3rd order is a 2-drug combo
  -- split into components by the treatment_component_helper
  SELECT ok,
         list_sort(list_distinct(flatten(list(
           CASE WHEN ok % 3 = 0
                THEN ['drug ' || (pk % 50), 'drug ' || ((pk + 1) % 50)]
                ELSE ['drug ' || (pk % 50)] END)))) AS mt,
         array_to_string(list_sort(list_distinct(list(
           CASE pk % 4 WHEN 0 THEN 'Complete Response'
                WHEN 1 THEN 'Partial Response'
                WHEN 2 THEN 'Stable Disease'
                ELSE 'Progressive Disease' END))), '|') AS mtr,
         list_sort(list_distinct(flatten(list(
           CASE WHEN ok % 3 = 0 THEN
             [CASE (pk % 50) % 3 WHEN 0 THEN 'Chemotherapy'
                   WHEN 1 THEN 'Immunotherapy' ELSE NULL END,
              CASE ((pk + 1) % 50) % 3 WHEN 0 THEN 'Chemotherapy'
                   WHEN 1 THEN 'Immunotherapy' ELSE NULL END]
           ELSE
             [CASE (pk % 50) % 3 WHEN 0 THEN 'Chemotherapy'
                   WHEN 1 THEN 'Immunotherapy' ELSE NULL END]
           END)))) AS ttypes
  FROM li WHERE ln = 1 AND ok % 10 != 0 GROUP BY ok
), pt AS (
  -- patient-target protocols key on the PATIENT and attach to every
  -- model of that patient (ref views.sql:1218-1230 / treatment_protocol):
  -- a model shows 'patient treatment' iff its customer has any order
  -- with a 2nd lineitem
  SELECT o2.o_custkey AS ck,
         list_sort(list_distinct(list('drug ' || (li.pk % 50)))) AS ptl,
         array_to_string(list_sort(list_distinct(list(
           CASE (li.pk + 1) % 4 WHEN 0 THEN 'Complete Response'
                WHEN 1 THEN 'Partial Response'
                WHEN 2 THEN 'Stable Disease'
                ELSE 'Progressive Disease' END))), '|') AS ptr
  FROM orders o2 JOIN li ON li.ok = o2.o_orderkey AND li.ln = 2
  GROUP BY o2.o_custkey
)
SELECT
  CASE WHEN o.ok % 10 = 0 THEN 'C' || o.ok ELSE 'M' || o.ok END AS external_model_id,
  o.prov AS data_source,
  'SYNTH' AS project_name,
  o.provider_name AS provider_name,
  CASE WHEN o.ok % 10 = 0 THEN
    CASE o.ok % 3 WHEN 0 THEN 'cell line' WHEN 1 THEN 'organoid' ELSE 'other' END
  ELSE 'PDX' END AS model_type,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0 THEN 'Vendor' || (o.ok % 7) END AS supplier,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0 THEN 'commercial' END AS supplier_type,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0 THEN 'CAT-' || (o.ok % 500) END
    AS catalog_number,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 4 = 0
       THEN 'https://vendor.example.org/' || (o.ok % 500) END AS vendor_link,
  CASE WHEN o.ok % 10 = 0 THEN 'CVCL_' || (o.ok % 10000) ELSE '' END AS rrid,
  CAST(NULL AS VARCHAR) AS external_ids,
  'Diagnosis ' || (o.ok % 97) || ' Cancer' AS histology,
  'Diagnosis ' || (o.ok % 97) || ' Cancer' AS search_terms,
  'Unclassified' AS cancer_system,
  array_to_string(
    list_sort(
      ['mutation']
      || CASE WHEN o.ok % 3 = 0 THEN ['expression'] ELSE []::VARCHAR[] END
      || CASE WHEN o.ok % 4 = 0 THEN ['copy number alteration'] ELSE []::VARCHAR[] END
      || CASE WHEN o.ok % 5 = 0 THEN ['immune markers'] ELSE []::VARCHAR[] END
      || CASE WHEN o.ok % 6 = 0 THEN ['bio markers'] ELSE []::VARCHAR[] END)
    || CASE WHEN dosing.mt IS NOT NULL AND len(dosing.mt) > 0
            THEN ['model treatment'] ELSE []::VARCHAR[] END
    || CASE WHEN pt.ptl IS NOT NULL AND len(pt.ptl) > 0
            THEN ['patient treatment'] ELSE []::VARCHAR[] END
    || CASE WHEN o.ok % 5 = 0 THEN ['publication'] ELSE []::VARCHAR[] END,
    '|') AS dataset_available,
  CASE o.ok % 3 WHEN 0 THEN 'EMBL-EBI' WHEN 1 THEN 'CC0' END AS license_name,
  CASE o.ok % 3 WHEN 0 THEN 'https://www.ebi.ac.uk/about/terms-of-use'
       WHEN 1 THEN 'https://creativecommons.org/publicdomain/zero/1.0/' END
    AS license_url,
  'site' || ((o.ok % 97) % 20) AS primary_site,
  'site' || (((o.ok % 97) + 1) % 20) AS collection_site,
  CASE WHEN o.ok % 2 = 0 THEN 'Primary' ELSE 'Metastatic' END AS tumour_type,
  CAST(o.ok % 3 + 1 AS VARCHAR) AS cancer_grade,
  'G' AS cancer_grading_system,
  CASE o.ok % 4 WHEN 0 THEN 'I' WHEN 1 THEN 'II' WHEN 2 THEN 'III' ELSE 'IV' END
    AS cancer_stage,
  'TNM' AS cancer_staging_system,
  'P' || o.ck AS patient_id,
  (((20 + o.ok % 65) - 1) // 10) * 10 || ' - '
    || ((((20 + o.ok % 65) - 1) // 10) * 10 + 9) AS patient_age,
  CAST(NULL AS VARCHAR) AS patient_age_category,
  o.patient_sex AS patient_sex,
  CAST(NULL AS VARCHAR) AS patient_history,
  o.ethnicity AS patient_ethnicity,
  CAST(NULL AS VARCHAR) AS patient_ethnicity_assessment_method,
  CAST(NULL AS VARCHAR) AS patient_initial_diagnosis,
  CAST(20 + o.ck % 60 AS VARCHAR) AS patient_age_at_initial_diagnosis,
  'S' || o.ok AS patient_sample_id,
  CAST(NULL AS VARCHAR) AS patient_sample_collection_date,
  CAST(NULL AS VARCHAR) AS patient_sample_collection_event,
  CAST(NULL AS VARCHAR) AS patient_sample_collection_method,
  CAST(NULL AS VARCHAR) AS patient_sample_months_since_collection_1,
  CAST(NULL AS VARCHAR) AS patient_sample_gene_mutation_status,
  CAST(NULL AS VARCHAR) AS patient_sample_virology_status,
  CAST(NULL AS VARCHAR) AS patient_sample_sharable,
  CAST(NULL AS VARCHAR) AS patient_sample_treatment_naive_at_collection,
  CAST(NULL AS VARCHAR) AS patient_sample_treated_at_collection,
  CASE WHEN o.ok % 2 = 0 THEN 'Yes' ELSE 'No' END
    AS patient_sample_treated_prior_to_collection,
  CAST(NULL AS VARCHAR) AS patient_sample_response_to_treatment,
  CASE WHEN o.ok % 5 = 0
       THEN '[{"pub_med_id":"PMID: ' || (o.ok % 1000) || '"}]' END
    AS pdx_model_publications,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 7 = 0 THEN
    '[{"validation_technique":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'Histology' WHEN 1 THEN 'Str Analysis'
             ELSE 'Snp Analysis' END)
    || '","description":"matches patient tumour","passages_tested":"'
    || (o.ok % 3 + 1) || '"}]' END AS quality_assurance,
  CASE WHEN o.ok % 10 != 0 THEN
    '[{"host_strain_name":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'nod scid gamma' WHEN 1 THEN 'nod scid'
             ELSE 'nude' END)
    || '","host_strain_nomenclature":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'NOD.Cg-Prkdc<scid>' WHEN 1 THEN 'NOD.CB17'
             ELSE 'Foxn1<nu>' END)
    || '","engraftment_site":"'
    || (CASE o.ok % 3 WHEN 0 THEN 'Subcutaneous' WHEN 1 THEN 'Orthotopic'
             ELSE 'Renal Capsule' END)
    || '","engraftment_type":"'
    || (CASE WHEN o.ok % 2 = 0 THEN 'Heterotopic' ELSE 'Orthotopic' END)
    || '","engraftment_sample_type":"'
    || (CASE WHEN o.ok % 2 = 0 THEN 'Tissue Fragment' ELSE 'Cell Suspension' END)
    || '","engraftment_sample_state":"'
    || (CASE WHEN o.ok % 2 = 0 THEN 'Fresh' ELSE 'Frozen' END)
    || '","passage_number":"' || (o.ok % 9 + 1) || '"}]' END
    AS xenograft_model_specimens,
  CASE WHEN o.ok % 10 != 0 AND o.ok % 8 = 0 THEN
    '[{"url":"https://images.example.org/M' || o.ok
    || '.png","description":"tumour section","sample_type":"tumour","passage":"'
    || (o.ok % 5)
    || '","magnification":"20x","staining":"H&E"}]' END AS model_images,
  CASE WHEN o.ok % 4 = 0 THEN COALESCE(muts.markers, '') ELSE '' END
    AS markers_with_cna_data,
  -- every model has a pl_mut molchar, so the pipeline's left join always
  -- yields an array (empty when the order has no lineitems) → ''
  COALESCE(muts.markers, '') AS markers_with_mutation_data,
  CASE WHEN o.ok % 3 = 0 THEN COALESCE(muts.markers, '') ELSE '' END
    AS markers_with_expression_data,
  CASE WHEN o.ok % 6 = 0 THEN COALESCE(bio.bio_markers, '') ELSE '' END
    AS markers_with_biomarker_data,
  breast.bc AS breast_cancer_biomarkers,
  CASE WHEN o.ok % 5 = 0 THEN
    CASE o.ok % 3 WHEN 0 THEN 'Stable' WHEN 1 THEN 'Instable high'
         ELSE 'Instable low' END END AS msi_status,
  CASE WHEN o.ok % 10 = 0 THEN 'HLA-A*' || (o.ok % 30) END AS hla_types,
  array_to_string(pt.ptl, '|') AS patient_treatments,
  pt.ptr AS patient_treatments_responses,
  array_to_string(dosing.mt, '|') AS model_treatments,
  dosing.mtr AS model_treatments_responses,
  CASE WHEN dosing.ttypes IS NOT NULL AND len(dosing.ttypes) > 0
       THEN array_to_string(dosing.ttypes, '|') END AS custom_treatment_type_list,
  CASE o.ok % 3 WHEN 0 THEN 'ENA' WHEN 1 THEN 'EGA' END AS raw_data_resources,
  CASE WHEN annot.res IS NOT NULL AND len(annot.res) > 0
       THEN array_to_string(annot.res, '|') END AS cancer_annotation_resources,
  CAST(NULL AS VARCHAR) AS model_availability,
  CAST(NULL AS VARCHAR) AS date_submitted,
  CASE WHEN o.ok % 10 = 0 THEN '{"in_vitro_metadata_score":69}'
       WHEN o.ok % 7 = 0 THEN '{"pdx_metadata_score":87}'
       ELSE '{"pdx_metadata_score":76}' END AS scores
FROM o
LEFT JOIN muts USING (ok)
LEFT JOIN bio USING (ok)
LEFT JOIN breast USING (ok)
LEFT JOIN annot USING (ok)
LEFT JOIN dosing USING (ok)
LEFT JOIN pt ON pt.ck = o.ck
"""


def _sql_etl_search_index_full() -> str:
    """Full 67-column flagship oracle: the wide 66-column SQL plus the
    internal id, re-derived with the portable md5-based hash over the
    same (external_model_id, chr(31), data_source) key string that
    transforms/model.py hashes Spark-side (functions/ids.py
    portable_hash_id)."""
    from pdcm_etl_spark.operators.dedup import DUCK_H60

    # coalesce each key to chr(0) — mirrors portable_hash_id's NULL
    # encoding (functions/ids.py: NULL → '\x00' so NULL ≠ '')
    key = (
        "concat_ws(chr(31), "
        "coalesce(CAST(external_model_id AS VARCHAR), chr(0)), "
        "coalesce(CAST(data_source AS VARCHAR), chr(0)))"
    )
    h = DUCK_H60.format(col=key)
    # VARCHAR: the flagship projects every column to string (synth.py
    # _project_columns), so the re-derived id must be string-typed too
    return (
        f"SELECT w.*, CAST({h} AS VARCHAR) AS pdcm_model_id\n"
        f"FROM (\n{SQL_ETL_SEARCH_INDEX_WIDE}\n) w"
    )


EXTRA_CATALOG: dict[str, tuple] = {
    "etl_search_index": (q_etl_search_index, _sql_etl_search_index_full()),
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
}


def q_grouped_topk(spark, sf_dir):
    """Top-3 parts by retail price per brand (id tie-break) — the
    per-group top-k every leaderboard/sampling pipeline needs. Window
    rank partitions by the group key: with many groups the sort is
    fully parallel, and rank<=k prunes before anything else runs
    (WindowGroupLimit pushes the limit into the sort at scale)."""
    from pyspark.sql import Window

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


EXTRA_CATALOG["grouped_topk"] = (q_grouped_topk, SQL_GROUPED_TOPK)
