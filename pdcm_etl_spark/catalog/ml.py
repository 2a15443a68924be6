"""Feature engineering and model evaluation (``operators/ml.py``):
outlier detection, percentile ranks, target encoding, robust scaling,
winsorizing and binning, quantiles and weighted medians, rank
correlation, AUC, gain curves, rank fusion and a decision-stump trainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators import ml
from pdcm_etl_spark.operators.ml import (
    decile_migration,
    embedding_norm_profile,
    grouped_auc_ppm,
    grouped_gain_curve,
    grouped_quantiles,
    iqr_outliers,
    mad_outliers,
    percentile_rank_ppm,
    quantile_bin,
    quantile_normalize,
    robust_scale_ppm,
    rrf_fusion,
    spearman_corr_ppm,
    target_encode_loo,
    trimmed_mean_group,
    weighted_median_group,
    winsorize_group,
)
from pdcm_etl_spark.sources.lake import load_events, read_docs, read_table


def x_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a quality-classifier decision stump per feature (predicting
    lang='en' from n_chars / n_words / avg-word-length-×10) under exact
    0-1 loss — the distributed-tree-training primitive. Histogram-sized
    candidate scan, integer-exact argmin, exact oracle."""
    docs = read_docs(spark, sf_dir)
    base = docs.select(
        (F.col("lang") == "en").cast("bigint").alias("lbl"),
        F.col("n_chars"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
    ).withColumn("awl_x10", F.expr("(n_chars * 10) div n_words"))
    return ml.stump_train(base, ["n_chars", "n_words", "awl_x10"], "lbl")


SQL_STUMP_TRAIN = """
WITH base AS (
  SELECT CAST(lang = 'en' AS BIGINT) AS lbl,
         n_chars,
         len(string_split(text, ' ')) AS n_words,
         (n_chars * 10) // len(string_split(text, ' ')) AS awl_x10
  FROM documents
),
lng AS (
  SELECT 'n_chars' AS feature, n_chars AS value, lbl FROM base
  UNION ALL SELECT 'n_words', n_words, lbl FROM base
  UNION ALL SELECT 'awl_x10', awl_x10, lbl FROM base
),
hist AS (
  SELECT feature, value, SUM(lbl) AS pos, COUNT(*) AS n
  FROM lng GROUP BY feature, value
),
cum AS (
  SELECT feature, value,
         SUM(pos) OVER (PARTITION BY feature ORDER BY value) AS cpos,
         SUM(n) OVER (PARTITION BY feature ORDER BY value) AS cn,
         SUM(pos) OVER (PARTITION BY feature) AS tpos,
         SUM(n) OVER (PARTITION BY feature) AS tn
  FROM hist
),
err AS (
  SELECT feature, value,
         LEAST(cpos, cn - cpos)
           + LEAST(tpos - cpos, (tn - cn) - (tpos - cpos)) AS errors,
         tn
  FROM cum
),
best AS (
  SELECT feature, value, errors, tn,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY errors, value) AS rn
  FROM err
)
SELECT feature,
       CAST(value AS BIGINT) AS threshold,
       CAST(errors AS BIGINT) AS errors,
       CAST(tn AS BIGINT) AS total,
       CAST((tn - errors) * 10000 // tn AS BIGINT) AS acc_bp
FROM best
WHERE rn = 1
"""


def x_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers on the event value (micro-quantized) per
    event_type: discrete integer quartiles (position-picked, tie-broken
    by event_id), k=3 fences, all-integer arithmetic — exact."""
    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return iqr_outliers(
        ev, key_col="event_type", id_col="event_id", value_micro=metric,
        k_iqr=3,
    )


SQL_ANOMALY_IQR = """
WITH base AS (
  SELECT event_id AS id, event_type AS key,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT id, key, m,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id) AS rn,
         COUNT(*) OVER (PARTITION BY key) AS n
  FROM base
),
q AS (
  SELECT key,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN m END) AS q1_micro,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN m END) AS q3_micro
  FROM ranked
  WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
  GROUP BY key
)
SELECT b.id AS event_id, b.key AS event_type, b.m AS value_micro,
       q.q1_micro, q.q3_micro
FROM base b JOIN q USING (key)
WHERE b.m > q.q3_micro + 3 * (q.q3_micro - q.q1_micro)
   OR b.m < q.q1_micro - 3 * (q.q3_micro - q.q1_micro)
"""


def x_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers on the event value per
    event_type (operators/ml.py::mad_outliers): discrete integer
    medians (position-picked, tie-broken by event_id), k=3 fences —
    the 50%-breakdown robust twin of anomaly_iqr. With k=3 on this
    near-uniform synthetic value the flag set is small but non-empty
    by construction of the tail."""
    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return mad_outliers(
        ev, key_col="event_type", id_col="event_id", value_micro=metric,
        k_mad=3,
    )


SQL_ANOMALY_MAD = """
WITH base AS (
  SELECT event_id AS id, event_type AS key,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL
),
counts AS (SELECT key, COUNT(*) AS n FROM base GROUP BY key),
r1 AS (
  SELECT base.*, ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id) AS rn,
         counts.n
  FROM base JOIN counts USING (key)
),
med AS (SELECT key, m AS med_micro FROM r1 WHERE rn = (n + 1) // 2),
dev AS (
  SELECT base.id, base.key, base.m, med.med_micro,
         abs(base.m - med.med_micro) AS d
  FROM base JOIN med USING (key)
),
r2 AS (
  SELECT dev.*, ROW_NUMBER() OVER (PARTITION BY key ORDER BY d, id) AS rn,
         counts.n
  FROM dev JOIN counts USING (key)
),
mad AS (SELECT key, d AS mad_micro FROM r2 WHERE rn = (n + 1) // 2)
SELECT dev.id, dev.key, dev.m AS value_micro, dev.med_micro, mad.mad_micro
FROM dev JOIN mad USING (key)
WHERE dev.d > 3 * mad.mad_micro
"""


def x_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank calibration of the type-token-ratio
    quality score (operators/ml.py::percentile_rank_ppm) — makes
    quality comparable across sources before a global threshold. One
    group-keyed window, integer ppm, ties by doc id."""
    docs = read_docs(spark, sf_dir).selectExpr(
        "doc_id",
        "source",
        "split(lower(text), ' ') AS ws",
    ).selectExpr(
        "doc_id",
        "source",
        "CAST(CAST(size(array_distinct(ws)) AS BIGINT) * 10000"
        " DIV size(ws) AS BIGINT)"
        " AS ttr_bp",
    )
    return percentile_rank_ppm(
        docs, key_col="source", id_col="doc_id",
        value_micro=F.col("ttr_bp"),
    )


SQL_PERCENTILE_RANK = """
WITH q AS (
  SELECT doc_id AS id, source AS key,
         CAST(len(list_distinct(string_split(lower(text), ' '))) * 10000
              // len(string_split(lower(text), ' ')) AS BIGINT) AS m
  FROM documents
),
r AS (
  SELECT id, key, m,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id) AS rnk,
         COUNT(*) OVER (PARTITION BY key) AS n
  FROM q
)
SELECT id, key, m AS value_micro,
       CAST(CASE WHEN n = 1 THEN 0
            ELSE (1000000 * (rnk - 1)) // (n - 1) END AS BIGINT) AS rank_ppm
FROM r
"""


def x_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of o_orderpriority against the
    order total (micro-quantized): each row gets the mean target of the
    OTHER rows in its category — no label leakage
    (operators/ml.py::target_encode_loo, prior_weight=0). One category
    aggregation + broadcast re-entry; integer floor arithmetic."""
    orders = read_table(spark, sf_dir, "orders")
    metric = (
        F.col("o_totalprice").cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    return target_encode_loo(
        orders, cat_col="o_orderpriority", id_col="o_orderkey",
        target_micro=metric, prior_weight=0,
    )


SQL_TARGET_ENCODE = """
WITH base AS (
  SELECT o_orderkey AS id, o_orderpriority AS cat,
         CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS t
  FROM orders WHERE o_totalprice IS NOT NULL
),
cats AS (
  SELECT cat, CAST(SUM(t) AS BIGINT) AS cat_sum, COUNT(*) AS cat_n
  FROM base GROUP BY cat
),
g AS (SELECT CAST(SUM(t) AS BIGINT) AS g_sum, COUNT(*) AS g_n FROM base)
-- FLOOR division via the positive-mod construction (the kmeans-oracle
-- idiom): the operator floors (Spark pmod), while plain // truncates —
-- they differ on negative sums (positive here, but the oracle must
-- encode the operator's contract, not this binding's data)
SELECT id, cat, t AS target_micro,
       CAST(CASE WHEN cat_n = 1 THEN
              CASE WHEN g_n > 1 THEN
                ((g_sum - t) - (((g_sum - t) % (g_n - 1)) + (g_n - 1))
                   % (g_n - 1)) // (g_n - 1)
              ELSE 0 END
            ELSE ((cat_sum - t) - (((cat_sum - t) % (cat_n - 1))
                   + (cat_n - 1)) % (cat_n - 1)) // (cat_n - 1)
            END AS BIGINT) AS enc_micro
FROM base JOIN cats USING (cat), g
"""


def x_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD z-score scaling of the event value per event_type
    (operators/ml.py::robust_scale_ppm) — outlier-immune feature
    standardization; MAD-0 groups emit NULL by contract."""
    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return robust_scale_ppm(
        ev, key_col="event_type", id_col="event_id", value_micro=metric
    )


SQL_ROBUST_SCALE = """
WITH base AS (
  SELECT event_id AS id, event_type AS key,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM events WHERE value IS NOT NULL
),
counts AS (SELECT key, COUNT(*) AS n FROM base GROUP BY key),
r1 AS (
  SELECT base.*, ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id) AS rn,
         counts.n
  FROM base JOIN counts USING (key)
),
med AS (SELECT key, m AS med FROM r1 WHERE rn = (n + 1) // 2),
dev AS (
  SELECT base.id, base.key, base.m, med.med,
         abs(base.m - med.med) AS d
  FROM base JOIN med USING (key)
),
r2 AS (
  SELECT dev.*, ROW_NUMBER() OVER (PARTITION BY key ORDER BY d, id) AS rn,
         counts.n
  FROM dev JOIN counts USING (key)
),
mad AS (SELECT key, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
SELECT dev.id, dev.key, dev.m AS value_micro,
       CAST(CASE WHEN mad.mad = 0 THEN NULL
            ELSE ((dev.m - dev.med) * 1000000) // mad.mad END AS BIGINT)
         AS robust_z_ppm
FROM dev JOIN mad USING (key)
"""


def x_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of (quantity, extendedprice) per
    return flag (operators/ml.py::spearman_corr_ppm) — exact-rational
    monotone-association profile, deterministic tie-broken ranks."""
    li = read_table(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag",
        "l_orderkey * 10 + l_linenumber AS rid",
        "CAST(l_quantity AS BIGINT) AS q",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS p_cents",
    )
    return spearman_corr_ppm(
        li, key_col="l_returnflag", x_micro=F.col("q"),
        y_micro=F.col("p_cents"), id_col="rid",
    ).withColumnRenamed("key", "l_returnflag")


SQL_SPEARMAN_CORR = """
WITH base AS (
  SELECT l_returnflag AS key, l_orderkey * 10 + l_linenumber AS id,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
r AS (
  SELECT key,
         -- RANK, not ROW_NUMBER: full-duplicate rows (the synthetic
         -- lineitem has duplicate ids) must share a content-determined
         -- rank, or the hash is run-order dependent
         RANK() OVER (PARTITION BY key ORDER BY x, id) AS rx,
         RANK() OVER (PARTITION BY key ORDER BY y, id) AS ry
  FROM base
),
a AS (
  -- HUGEINT discipline (round-10 sf1 verify finding): at sf1 a key
  -- holds ~2.4M rows, so SUM((rx-ry)^2) ~ 1.4e19 and n*(n^2-1) both
  -- overflow INT64 — the Spark side already rides DECIMAL(38,0)
  SELECT key, COUNT(*) AS n,
         SUM(CAST((rx - ry) * (rx - ry) AS HUGEINT)) AS sd2
  FROM r GROUP BY key
)
SELECT key AS l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN n < 2 THEN NULL
            ELSE 1000000 - (6 * sd2 * 1000000)
                 // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
            END AS BIGINT) AS rho_ppm
FROM a
"""


def x_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize document lengths across languages
    (operators/ml.py::quantile_normalize): within-group rank → global
    type-1 order statistic at the same percentile. Global ranks come
    from the range-bucket decomposition — NO single-task global sort
    (plan-pinned); the only collect is the 2-value min/max bound."""
    return quantile_normalize(
        read_docs(spark, sf_dir), "lang", "n_chars", "doc_id"
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


def x_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p90 of the event value per event_type in ONE
    rank pass (operators/ml.py::grouped_quantiles) — the bit-exact
    twin of the approx_quantile sketch row: discrete order statistics
    at position ceil(q*n/100), ties broken by event_id, all quantiles
    extracted by one conditional aggregation."""
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


def x_winsorize_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority winsorization of order totals at the [2%, 98%]
    basis-point order statistics (operators/ml.py::winsorize_group):
    clip-don't-drop outlier taming, bit-exact discrete bounds, ONE
    group-keyed shuffle (rank + size + both boundary extractions are
    windows over the same partitioning — no join-back)."""
    orders = read_table(spark, sf_dir, "orders")
    metric = (
        F.col("o_totalprice").cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    return winsorize_group(
        orders, key_col="o_orderpriority", id_col="o_orderkey",
        value_micro=metric, lo_bp=200, hi_bp=9800,
    )


SQL_WINSORIZE_GROUP = """
WITH base AS (
  SELECT o_orderpriority AS key, o_orderkey AS id,
         CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM orders WHERE o_totalprice IS NOT NULL
), r AS (
  SELECT key, id, m,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM base
), ix AS (
  SELECT *, GREATEST((200 * n + 9999) // 10000, 1) AS lo_idx,
            GREATEST((9800 * n + 9999) // 10000, 1) AS hi_idx
  FROM r
), b AS (
  SELECT *,
         MAX(CASE WHEN rn = lo_idx THEN m END)
           OVER (PARTITION BY key) AS lo_micro,
         MAX(CASE WHEN rn = hi_idx THEN m END)
           OVER (PARTITION BY key) AS hi_micro
  FROM ix
)
SELECT id, key, m AS value_micro, lo_micro, hi_micro,
       GREATEST(lo_micro, LEAST(hi_micro, m)) AS winsorized_micro
FROM b
"""


def x_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning of order totals per priority
    (operators/ml.py::quantile_bin): equal-frequency discretization,
    type-1 exact, one group-keyed shuffle (rank + size windows share
    the partitioning; bin is arithmetic — no join-back)."""
    orders = read_table(spark, sf_dir, "orders")
    metric = (
        F.col("o_totalprice").cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    return quantile_bin(
        orders, key_col="o_orderpriority", id_col="o_orderkey",
        value_micro=metric, n_bins=10,
    )


SQL_QUANTILE_BIN = """
WITH base AS (
  SELECT o_orderpriority AS key, o_orderkey AS id,
         CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM orders WHERE o_totalprice IS NOT NULL
), r AS (
  SELECT key, id, m,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM base
)
SELECT id, key, m AS value_micro, (rn * 10 + n - 1) // n AS bin
FROM r
"""


def x_trimmed_mean_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order totals per priority
    (operators/ml.py::trimmed_mean_group): robust location between
    median and mean, integer-exact, one group-keyed shuffle (rank/size
    windows + a same-key conditional aggregation)."""
    orders = read_table(spark, sf_dir, "orders")
    metric = (
        F.col("o_totalprice").cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    return trimmed_mean_group(
        orders, key_col="o_orderpriority", id_col="o_orderkey",
        value_micro=metric, trim_bp=500,
    )


SQL_TRIMMED_MEAN_GROUP = """
WITH base AS (
  SELECT o_orderpriority AS key, o_orderkey AS id,
         CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
  FROM orders WHERE o_totalprice IS NOT NULL
), r AS (
  SELECT key, id, m,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY m, id)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM base
), marked AS (
  SELECT *, (rn > (500 * n) // 10000
             AND rn <= n - ((500 * n) // 10000)) AS keep
  FROM r
)
SELECT key, CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(CASE WHEN SUM(CASE WHEN keep THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE SUM(CASE WHEN keep THEN CAST(m AS HUGEINT) END)
                 // SUM(CASE WHEN keep THEN 1 ELSE 0 END) END
            AS BIGINT) AS trimmed_mean_micro,
       CAST(SUM(CAST(m AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_micro
FROM marked GROUP BY key
"""


def x_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type ROC-AUC of the value metric as a predictor
    of 'is this a purchase-user event' (operators/ml.py::
    grouped_auc_ppm): Mann–Whitney over the score histogram —
    histogram agg + one key-partitioned cumulative window + final agg,
    all integer/DECIMAL. The model-eval primitive."""
    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return grouped_auc_ppm(
        ev.filter(F.col("event_type").isin("click", "view", "purchase")),
        key_col="event_type",
        score_micro=metric,
        label_pred=F.col("user_id") % 3 == 0,
    )


SQL_GROUPED_AUC = """
WITH base AS (
  SELECT event_type AS key,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s,
         CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase') AND value IS NOT NULL
), hist AS (
  SELECT key, s, CAST(SUM(y) AS BIGINT) AS np,
         CAST(SUM(1 - y) AS BIGINT) AS nn
  FROM base GROUP BY 1, 2
), cum AS (
  SELECT *, CAST(COALESCE(SUM(nn) OVER (PARTITION BY key ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS neg_below
  FROM hist
)
SELECT key, CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(CASE WHEN SUM(np) = 0 OR SUM(nn) = 0 THEN NULL ELSE
         ((2 * SUM(CAST(np AS HUGEINT) * neg_below)
           + SUM(CAST(np AS HUGEINT) * nn)) * 1000000)
         // (2 * CAST(SUM(np) AS HUGEINT) * SUM(nn)) END AS BIGINT)
         AS auc_ppm
FROM cum GROUP BY key
"""


def x_grouped_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type cumulative gains / lift deciles of the value
    metric as a targeting score for 'purchase-user' rows
    (operators/ml.py::grouped_gain_curve): exact integer ranking,
    bucketing, and cross-multiplied ppm — the gain-chart companion of
    grouped_auc."""
    ev = load_events(spark, sf_dir)
    metric = (F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint")
    return grouped_gain_curve(
        ev.filter(F.col("event_type").isin("click", "view", "purchase")),
        key_col="event_type",
        id_col="event_id",
        score_micro=metric,
        label_pred=F.col("user_id") % 3 == 0,
    )


SQL_GROUPED_GAIN_CURVE = """
WITH base AS (
  SELECT event_type AS key, event_id AS id,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS s,
         CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase') AND value IS NOT NULL
), ranked AS (
  SELECT key, y,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY s DESC, id)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n,
         CAST(SUM(y) OVER (PARTITION BY key) AS BIGINT) AS tp
  FROM base
), bucketed AS (
  SELECT key, y, n, tp,
         CAST(1 + ((r - 1) * 10) // n AS INTEGER) AS bucket
  FROM ranked
), per_bucket AS (
  SELECT key, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         MAX(n) AS n, MAX(tp) AS tp
  FROM bucketed GROUP BY 1, 2
), cum AS (
  SELECT *,
         CAST(SUM(n_pos) OVER (PARTITION BY key ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos,
         CAST(SUM(n_rows) OVER (PARTITION BY key ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_n
  FROM per_bucket
)
SELECT key, bucket, n_rows, n_pos, cum_pos,
       CAST(CASE WHEN tp = 0 THEN NULL ELSE
            (CAST(cum_pos AS HUGEINT) * 1000000) // tp END AS BIGINT)
         AS gain_ppm,
       CAST(CASE WHEN tp = 0 THEN NULL ELSE
            (CAST(cum_pos AS HUGEINT) * n * 1000000)
              // (CAST(cum_n AS HUGEINT) * tp) END AS BIGINT)
         AS lift_ppm
FROM cum
"""


def x_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two order rankers per priority class
    (operators/ml.py::rrf_fusion): value rank fused with recency rank,
    integer micro contributions (1e6 div (60+rank)), top-10 per group.
    One group-keyed Exchange carries all three windows."""
    orders = read_table(spark, sf_dir, "orders")
    return rrf_fusion(
        orders,
        key_col="o_orderpriority",
        id_col="o_orderkey",
        score_a=(F.col("o_totalprice").cast("decimal(18,2)") * 100),
        score_b=F.unix_date(F.col("o_orderdate").cast("date")),
    )


SQL_RRF_FUSION = """
WITH base AS (
  SELECT o_orderpriority AS key, o_orderkey AS id,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sa,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS sb
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
), ranked AS (
  SELECT key, id,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY sa DESC, id)
              AS BIGINT) AS rank_a,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY sb DESC, id)
              AS BIGINT) AS rank_b
  FROM base
), fused AS (
  SELECT key, id, rank_a, rank_b,
         CAST(1000000 // (60 + rank_a) + 1000000 // (60 + rank_b)
              AS BIGINT) AS rrf_micro
  FROM ranked
)
SELECT key, id, rank_a, rank_b, rrf_micro
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                               ORDER BY rrf_micro DESC, id) AS fr
  FROM fused
) WHERE fr <= 10
"""


def x_weighted_median_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower weighted median of the line-item price per return
    flag, weighted by quantity (operators/ml.py::weighted_median_group)
    — one group-keyed Exchange carries the running-weight window and
    the final aggregation."""
    li = read_table(spark, sf_dir, "lineitem")
    return weighted_median_group(
        li,
        key_col="l_returnflag",
        id_col=(F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast(
            "bigint"
        ),
        value_micro=(F.col("l_extendedprice").cast("decimal(18,2)") * 100),
        weight=F.col("l_quantity").cast("bigint"),
    )


SQL_WEIGHTED_MEDIAN_GROUP = """
WITH base AS (
  SELECT l_returnflag AS key,
         l_orderkey * 8 + l_linenumber AS id,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS m,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND CAST(l_quantity AS BIGINT) > 0
), cum AS (
  SELECT key, m,
         SUM(CAST(w AS HUGEINT)) OVER (PARTITION BY key ORDER BY m, id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(CAST(w AS HUGEINT)) OVER (PARTITION BY key) AS tw
  FROM base
)
SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       MIN(CASE WHEN cw >= tw - cw THEN m END) AS wmedian_micro
FROM cum GROUP BY 1
"""


def x_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type decile migration of user value between the first
    and second half of January (operators/ml.py::decile_migration) —
    who moved between value deciles across periods."""
    ev = load_events(spark, sf_dir)
    return decile_migration(
        ev,
        key_col="event_type",
        id_col="user_id",
        value_micro=(F.col("value").cast("decimal(18,6)") * 1000000).cast(
            "bigint"
        ),
        period_b_pred=F.col("ts") >= F.lit("2024-01-16"),
    )


SQL_DECILE_MIGRATION = """
WITH rows_ AS (
  SELECT event_type AS key, user_id AS id,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
         CASE WHEN ts >= '2024-01-16' THEN 1 ELSE 0 END AS b
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), per AS (
  SELECT key, id,
         SUM(CASE WHEN b = 0 THEN CAST(v AS HUGEINT) END) AS va,
         SUM(CASE WHEN b = 1 THEN CAST(v AS HUGEINT) END) AS vb
  FROM rows_ GROUP BY 1, 2
), both_p AS (
  SELECT * FROM per WHERE va IS NOT NULL AND vb IS NOT NULL
), ranked AS (
  SELECT key,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY va, id)
              AS BIGINT) AS ra,
         CAST(ROW_NUMBER() OVER (PARTITION BY key ORDER BY vb, id)
              AS BIGINT) AS rb,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM both_p
)
SELECT key, CAST(((ra - 1) * 10) // n AS INTEGER) + 1 AS decile_a,
       CAST(((rb - 1) * 10) // n AS INTEGER) + 1 AS decile_b,
       CAST(COUNT(*) AS BIGINT) AS n_entities
FROM ranked GROUP BY 1, 2, 3
"""


def x_embedding_norm_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-health profile per label
    (operators/ml.py::embedding_norm_profile)."""
    return embedding_norm_profile(
        read_table(spark, sf_dir, "embeddings"), label_col="label"
    )


SQL_EMBEDDING_NORM_PROFILE = """
WITH per AS (
  SELECT label,
         CAST(len(embedding) AS INTEGER) AS dim,
         CAST(FLOOR(sqrt(list_dot_product(
                CAST(embedding AS DOUBLE[]),
                CAST(embedding AS DOUBLE[]))) * 1000000.0)
              AS BIGINT) AS norm_ppm
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN norm_ppm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero,
       CAST(MAX(dim) AS INTEGER) AS n_dims,
       MIN(norm_ppm) AS min_norm_ppm,
       MAX(norm_ppm) AS max_norm_ppm,
       CAST(SUM(norm_ppm) // COUNT(*) AS BIGINT) AS avg_norm_ppm
FROM per GROUP BY 1
"""


CATALOG: dict[str, tuple] = {
    "stump_train": (x_stump_train, SQL_STUMP_TRAIN),
    "anomaly_iqr": (x_anomaly_iqr, SQL_ANOMALY_IQR),
    "anomaly_mad": (x_anomaly_mad, SQL_ANOMALY_MAD),
    "percentile_rank": (x_percentile_rank, SQL_PERCENTILE_RANK),
    "target_encode": (x_target_encode, SQL_TARGET_ENCODE),
    "robust_scale": (x_robust_scale, SQL_ROBUST_SCALE),
    "spearman_corr": (x_spearman_corr, SQL_SPEARMAN_CORR),
    "quantile_normalize": (x_quantile_normalize, SQL_QUANTILE_NORMALIZE),
    "grouped_quantiles": (x_grouped_quantiles, SQL_GROUPED_QUANTILES),
    "winsorize_group": (x_winsorize_group, SQL_WINSORIZE_GROUP),
    "quantile_bin": (x_quantile_bin, SQL_QUANTILE_BIN),
    "trimmed_mean_group": (x_trimmed_mean_group, SQL_TRIMMED_MEAN_GROUP),
    "grouped_auc": (x_grouped_auc, SQL_GROUPED_AUC),
    "grouped_gain_curve": (x_grouped_gain_curve, SQL_GROUPED_GAIN_CURVE),
    "rrf_fusion": (x_rrf_fusion, SQL_RRF_FUSION),
    "weighted_median_group": (x_weighted_median_group, SQL_WEIGHTED_MEDIAN_GROUP),
    "decile_migration": (x_decile_migration, SQL_DECILE_MIGRATION),
    "embedding_norm_profile": (x_embedding_norm_profile, SQL_EMBEDDING_NORM_PROFILE),
}
