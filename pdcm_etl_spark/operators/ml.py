"""Distributed classical-ML training operators.

Like the k-means trainer (operators/similarity.py) and the BPE trainer
(operators/text.py), everything here is engineered so training is both
distributed (histogram aggregations with map-side combine, never a
per-row sort or a data-sized collect) and integer-exact (the DuckDB
oracle reproduces the model bit-for-bit — no float loss surfaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def stump_train(
    df: DataFrame,
    features: list[str],
    label_col: str,
    max_distinct: int = 40_000,
) -> DataFrame:
    """Train a decision stump (one-level decision tree / 1R) per feature
    under exact 0-1 loss: for every candidate threshold t, classify each
    side of ``value <= t`` by its majority label and count the
    misclassifications; return each feature's best threshold.

    The 0-1-loss criterion is chosen over Gini/entropy deliberately:
    error counts are integers, so the best split is decided by exact
    integer comparison — the trained model is bit-identical across
    engines (a float impurity would make the argmin engine-dependent on
    ties and rounding). Ties break toward the smallest threshold.

    Scale: the candidate-threshold scan is HISTOGRAM-sized, not
    data-sized — one (feature, value) aggregation with map-side combine
    over the long form, then cumulative windows over the histogram
    (``features × distinct values`` rows, bounded by ``max_distinct``
    per feature, enforced). This is the same two-pass exact-histogram
    discipline as ``top_percentile_filter`` (operators/sampling.py):
    integral features with a bounded value domain in, exact answers out.

    Returns one row per feature:
    (feature, threshold, errors, total, acc_bp) where the stump is
    "value <= threshold → left-majority label else right-majority" and
    acc_bp = floor((total - errors) * 10000 / total).
    """
    from pyspark.sql import Window

    for f in features:
        ftype = df.schema[f].dataType.simpleString()
        if ftype not in _INTEGRAL:
            raise TypeError(
                f"stump_train: feature {f!r} is {ftype}; the exact "
                "histogram plan needs integral features with a bounded "
                "value domain — bucketize first"
            )
    stack_args = ", ".join(f"'{f}', {f}" for f in features)
    long = df.select(
        F.col(label_col).cast("bigint").alias("__lbl"),
        F.expr(f"stack({len(features)}, {stack_args}) as (feature, value)"),
    )
    # precondition guard: the histogram must be bounded (per-feature
    # distinct-value cap), or the windows below stop being metadata-sized
    card = long.groupBy("feature").agg(
        F.count_distinct("value").alias("n")
    ).collect()  # n_features rows — scalar-scale collect; exact count:
    # approx_count_distinct's estimate could let an over-cap feature
    # through (unbounded window state) or reject a valid one
    over = {r["feature"]: r["n"] for r in card if r["n"] > max_distinct}
    if over:
        raise ValueError(
            f"stump_train: features exceed the {max_distinct} distinct-"
            f"value histogram cap: {over} — bucketize them first"
        )
    hist = long.groupBy("feature", "value").agg(
        F.sum("__lbl").alias("__pos"), F.count(F.lit(1)).alias("__n")
    )
    w_cum = (
        Window.partitionBy("feature")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "value",
        F.sum("__pos").over(w_cum).alias("__cpos"),
        F.sum("__n").over(w_cum).alias("__cn"),
        F.sum("__pos").over(w_tot).alias("__tpos"),
        F.sum("__n").over(w_tot).alias("__tn"),
    )
    err = cum.select(
        "feature",
        "value",
        (
            F.least("__cpos", F.col("__cn") - F.col("__cpos"))
            + F.least(
                F.col("__tpos") - F.col("__cpos"),
                (F.col("__tn") - F.col("__cn"))
                - (F.col("__tpos") - F.col("__cpos")),
            )
        ).alias("errors"),
        F.col("__tn").alias("total"),
    )
    w_best = Window.partitionBy("feature").orderBy("errors", "value")
    return (
        err.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select(
            "feature",
            F.col("value").alias("threshold"),
            "errors",
            "total",
            F.expr("((total - errors) * 10000) div total").alias("acc_bp"),
        )
    )


def iqr_outliers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    k_iqr: int = 3,
) -> DataFrame:
    """Per-group outlier detection by the Tukey IQR fence, on an integer
    metric so the fences — and therefore the flag set — are bit-exact
    across engines (float quantile interpolation is not).

    Quartiles are DISCRETE (a value present in the data): q1 is the
    value at sorted position ceil(n/4), q3 at ceil(3n/4), ties broken by
    the row id so both engines pick the same row. A row is an outlier
    when its metric falls outside [q1 - k·(q3-q1), q3 + k·(q3-q1)] —
    all integer arithmetic.

    Plan: one per-group sort window assigns positions (parallelism =
    group count — the quantile-by-histogram two-pass in
    ``operators/sampling.py::quality_percentile_filter`` is the
    alternative when groups are few and huge), a conditional aggregation
    extracts the two quartile rows, and a broadcastable group-keyed join
    flags the outliers. No collects.

    ``value_micro`` is a Column producing a BIGINT metric.

    Returns the outlier rows: (id, key, value_micro, q1_micro, q3_micro).
    """
    from pyspark.sql import Window

    # base feeds the rank window, the counts, and the flagging join —
    # share so the source scan+filter runs once (operators/sharing.py)
    base = shared(
        df.select(
            F.col(id_col).alias("id"),
            F.col(key_col).alias("key"),
            value_micro.cast("bigint").alias("m"),
            # null metrics are excluded OUTSIDE the rank, not sorted to an
            # end: engines disagree on null sort order (Spark NULLS FIRST,
            # DuckDB NULLS LAST), which would shift every quantile position
        ).filter(F.col("m").isNotNull())
    )
    w = Window.partitionBy("key").orderBy("m", "id")
    ranked = base.withColumn("rn", F.row_number().over(w))
    counts = base.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    q = (
        ranked.join(counts, "key")
        .filter(
            (F.col("rn") == F.expr("(n + 3) div 4"))
            | (F.col("rn") == F.expr("(3 * n + 3) div 4"))
        )
        .groupBy("key")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("m"))
            ).alias("q1_micro"),
            F.max(
                F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("m"))
            ).alias("q3_micro"),
        )
    )
    return (
        base.join(q, "key")
        .filter(
            (F.col("m") > F.col("q3_micro") + k_iqr * (F.col("q3_micro") - F.col("q1_micro")))
            | (F.col("m") < F.col("q1_micro") - k_iqr * (F.col("q3_micro") - F.col("q1_micro")))
        )
        .select(
            F.col("id").alias(id_col),
            F.col("key").alias(key_col),
            F.col("m").alias("value_micro"),
            "q1_micro",
            "q3_micro",
        )
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    k_mad: int = 3,
) -> DataFrame:
    """Per-group outlier detection by the MEDIAN ABSOLUTE DEVIATION —
    the robust-statistics twin of ``iqr_outliers``: med = median(x),
    mad = median(|x - med|), flag rows with |x - med| > k·mad. MAD has
    a 50% breakdown point (IQR's is 25%): half the group can be
    corrupted before the fence moves, which matters when scoring crawl
    slices where bad segments are the NORM, not the tail.

    Same exactness discipline as IQR: integer metric, DISCRETE medians
    (the value at sorted position ceil(n/2), ties by row id — both
    engines pick the same row), all-integer fences. Two window/agg
    rounds by necessity (the second median is over deviations from the
    first), each group-keyed — no collects, no global sorts.

    Returns outlier rows: (id, key, value_micro, med_micro, mad_micro).
    """
    from pyspark.sql import Window

    # base feeds the counts, the median window, and the deviation join;
    # dev feeds the MAD window and the flagging join — share both
    # (operators/sharing.py; measured: 7 events scans per plan)
    base = shared(
        df.select(
            F.col(id_col).alias("id"),
            F.col(key_col).alias("key"),
            value_micro.cast("bigint").alias("m"),
        ).filter(F.col("m").isNotNull())
    )
    w1 = Window.partitionBy("key").orderBy("m", "id")
    counts = base.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    med = (
        base.withColumn("rn", F.row_number().over(w1))
        .join(counts, "key")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("key", F.col("m").alias("med_micro"))
    )
    dev = shared(
        base.join(med, "key").withColumn(
            "d", F.abs(F.col("m") - F.col("med_micro"))
        )
    )
    w2 = Window.partitionBy("key").orderBy("d", "id")
    mad = (
        dev.withColumn("rn", F.row_number().over(w2))
        .join(counts, "key")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("key", F.col("d").alias("mad_micro"))
    )
    return (
        dev.join(mad, "key")
        .filter(F.col("d") > F.lit(k_mad) * F.col("mad_micro"))
        .select(
            "id",
            "key",
            F.col("m").alias("value_micro"),
            "med_micro",
            "mad_micro",
        )
    )


def percentile_rank_ppm(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
) -> DataFrame:
    """Per-group percentile-rank normalization: each row's value mapped
    to its rank position in ppm of the group — the calibration step
    that makes quality scores comparable ACROSS domains before a global
    threshold (a 0.8 in a high-quality source and a 0.8 in a crawl
    slice mean different things; their percentile ranks don't).

    rank_ppm = floor(1e6 · (rank - 1) / (n - 1)) with ``rank`` the
    1-based position under (value asc, id asc) — ties broken by id so
    both engines assign identical positions; singleton groups emit 0.
    All integer. ONE group-keyed window sharing its shuffle with the
    group-count aggregation's partial pass.

    Returns (id, key, value_micro, rank_ppm).
    """
    from pyspark.sql import Window

    # base feeds the rank window and the counts, but is deliberately
    # NOT shared: with only two cheap consumers of a narrow projection,
    # the r11 paired A/B measured the store+replay slower than the
    # second scan (wall −0.07 s, CPU +8% at sf0.1) — unlike the 3+
    # consumer mad/robust shapes below, which keep their share.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        value_micro.cast("bigint").alias("m"),
    ).filter(F.col("m").isNotNull())
    w = Window.partitionBy("key").orderBy("m", "id")
    counts = base.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    return (
        # bigint BEFORE the 1e6 product: row_number() is 32-bit and
        # 1000000·(rank−1) overflows int at groups past ~2148 rows
        # (ANSI aborts; .count() probes miss it — the projection is
        # pruned). Same class as the spearman rank fix.
        base.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .join(counts, "key")
        .select(
            "id",
            "key",
            F.col("m").alias("value_micro"),
            F.expr(
                "CASE WHEN n = 1 THEN CAST(0 AS BIGINT) "
                "ELSE (1000000 * (rank - 1)) div (n - 1) END"
            ).cast("bigint").alias("rank_ppm"),
        )
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    id_col: str,
    target_micro,
    prior_weight: int = 0,
) -> DataFrame:
    """Leave-one-out target encoding of a categorical column: each
    row's category replaced by the mean target of the OTHER rows in
    its category — the standard high-cardinality categorical feature
    for tree/linear models, leave-one-out so a row never sees its own
    label (the leakage the naive mean encoding commits).

    enc_micro = floor((cat_sum − own) / (cat_n − 1)); singleton
    categories fall back to the global leave-one-out mean. Optional
    ``prior_weight`` m blends toward the global mean
    ((cat_sum − own + m·g) / (cat_n − 1 + m)) — m=0 is the pure LOO.
    All sums in bigint micro (targets pre-quantized by the caller), all
    divisions integer floors via the pmod idiom — exact cross-engine.

    Plan: one category aggregation (category cardinality ≪ rows)
    re-entering on a broadcastable key join + a one-row global
    aggregate broadcast. No windows, no per-row second pass.

    Returns (id, cat, target_micro, enc_micro).
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(cat_col).alias("cat"),
        target_micro.cast("bigint").alias("t"),
    ).filter(F.col("t").isNotNull())
    # DECIMAL(38,0) ACCUMULATOR, bigint representation: the mid-sum
    # int64 abort (a hot category past ~1.7e7 rows of 5e11-micro
    # targets) is gone, and the cast back to bigint keeps the pmod/div
    # encoding arithmetic on fast integer codegen (decimal arithmetic
    # through the whole expression benched 2.6× the wall). If a
    # category's TOTAL genuinely exceeds int64 (9.2e18 micro), the ANSI
    # cast aborts loudly — never silently wrong.
    # cats feeds the global rollup AND the encoding join — share it, or
    # the full category aggregation over the fact runs twice; the
    # global totals then derive FROM cats (sum of per-category sums ≡
    # the global sum) instead of a third fact scan (3 source scans in
    # the r11 sweep → 2: the cats aggregation and the encoding join
    # probe).
    cats = shared(
        base.groupBy("cat").agg(
            F.sum(F.col("t").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("cat_sum"),
            F.count(F.lit(1)).alias("cat_n"),
        )
    )
    glob = cats.agg(
        F.sum(F.col("cat_sum").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("g_sum"),
        F.sum("cat_n").alias("g_n"),
    ).withColumn("__one", F.lit(1))
    m = int(prior_weight)
    # global LOO mean for this row: (g_sum - t) / (g_n - 1)
    g_loo = "(g_sum - t - pmod(g_sum - t, g_n - 1)) div (g_n - 1)"
    num = f"cat_sum - t + {m} * ({g_loo})"
    den = f"cat_n - 1 + {m}"
    return (
        base.join(cats, "cat")
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(glob), "__one")
        .select(
            "id",
            "cat",
            F.col("t").alias("target_micro"),
            F.expr(
                f"CASE WHEN cat_n - 1 + {m} = 0 THEN "
                f"  CASE WHEN g_n > 1 THEN {g_loo} ELSE CAST(0 AS BIGINT) END "
                f"ELSE (({num}) - pmod(({num}), ({den}))) div ({den}) END"
            ).cast("bigint").alias("enc_micro"),
        )
    )


def robust_scale_ppm(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
) -> DataFrame:
    """Robust z-score feature scaling: (x − median) · 1e6 div MAD per
    group — the outlier-immune standardization (mean/stddev scaling
    moves with the contamination it should resist). Same discrete
    integer medians as ``mad_outliers``; groups with MAD 0 (over half
    the values identical) emit NULL — scaling is undefined there, and
    a sentinel would poison downstream math silently.

    Returns (id, key, value_micro, robust_z_ppm nullable).
    """
    from pyspark.sql import Window

    # base feeds the counts, the median window, and the deviation join;
    # dev feeds the MAD window and the final scaling join — share both,
    # or the source scan+filter re-runs per consumer (measured: 7 events
    # scans in one robust_scale plan; operators/sharing.py)
    base = shared(
        df.select(
            F.col(id_col).alias("id"),
            F.col(key_col).alias("key"),
            value_micro.cast("bigint").alias("m"),
        ).filter(F.col("m").isNotNull())
    )
    counts = base.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    w1 = Window.partitionBy("key").orderBy("m", "id")
    med = (
        base.withColumn("rn", F.row_number().over(w1))
        .join(counts, "key")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("key", F.col("m").alias("med"))
    )
    dev = shared(
        base.join(med, "key").withColumn("d", F.abs(F.col("m") - F.col("med")))
    )
    w2 = Window.partitionBy("key").orderBy("d", "id")
    mad = (
        dev.withColumn("rn", F.row_number().over(w2))
        .join(counts, "key")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("key", F.col("d").alias("mad"))
    )
    return (
        dev.join(mad, "key")
        .select(
            "id",
            "key",
            F.col("m").alias("value_micro"),
            # plain `div`: BOTH engines truncate integer division
            # toward zero (verified: -7 div 2 = -3 = DuckDB -7 // 2);
            # a pmod-based "floor" would make Spark floor while DuckDB
            # truncates — off by one on every negative deviation
            F.expr(
                "CASE WHEN mad = 0 THEN CAST(NULL AS BIGINT) ELSE "
                # deviations are in micro units already: ×1e6 passes
                # int64 once |m − med| > 9.2e12 micro — DECIMAL ride
                "(CAST(m - med AS DECIMAL(38,0)) * 1000000) div mad END"
            ).cast("bigint").alias("robust_z_ppm"),
        )
    )


def spearman_corr_ppm(
    df: DataFrame,
    key_col: str,
    x_micro,
    y_micro,
    id_col: str,
) -> DataFrame:
    """Spearman rank correlation per group, EXACT in integers: rank
    both variables with RANK() over (value, id) — ties broken by row
    id, and rows IDENTICAL in (value, id) share the min-rank, so every
    row's rank is a pure function of its content (row_number() here
    was a real nondeterminism bug: the synthetic lineitem has ~14k
    duplicate (orderkey, linenumber) ids, and two full-duplicate rows
    got arbitrary rank order per run — caught when a 50-query gate run
    hashed differently from the solo run). Textbook Spearman
    average-ranks ties, which is fractional and engine-rounding-prone;
    min-rank is the deterministic integer variant, mirrored exactly by
    the oracle. ρ_ppm = 1e6 − (6·Σd²·1e6) div (n(n²−1)) with d the
    per-row rank difference — the whole statistic is rational, so both
    engines floor to the same ppm. Monotone association without
    Pearson's sqrt/variance float path.

    Groups with n < 2 emit NULL (undefined). Two group-keyed rank
    windows + one group aggregation.

    Returns (key, n, rho_ppm nullable).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        x_micro.cast("bigint").alias("x"),
        y_micro.cast("bigint").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    wx = Window.partitionBy("key").orderBy("x", "id")
    wy = Window.partitionBy("key").orderBy("y", "id")
    # ranks cast to BIGINT before any arithmetic: rank() is 32-bit
    # and (rx − ry)² overflows int at ~50k rows per group
    # (ANSI mode aborts the job; non-ANSI silently wraps — worse)
    ranked = base.withColumn(
        "rx", F.rank().over(wx).cast("bigint")
    ).withColumn("ry", F.rank().over(wy).cast("bigint"))
    return (
        ranked.withColumn("d2", F.expr("(rx - ry) * (rx - ry)"))
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # Σd² ≤ ~2n³/3 overflows a bigint accumulator at n≈2.4e6
            # rows per group (sf1 territory) — decimal from the start
            F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd2"),
        )
        .select(
            "key",
            "n",
            # the numerator 6·Σd²·1e6 reaches ~2n³·1e6 — past int64
            # by n≈17k — so it rides DECIMAL(38,0) (DuckDB's SUM is
            # already HUGEINT); all terms non-negative, so integer
            # truncation IS floor and no pmod dance is needed
            F.expr(
                "CASE WHEN n < 2 THEN CAST(NULL AS BIGINT) ELSE "
                "1000000 - CAST((CAST(6 AS DECIMAL(38,0)) * sd2 * 1000000)"
                " div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0))"
                " * n - 1)) AS BIGINT) END"
            ).cast("bigint").alias("rho_ppm"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Quantile normalization: every value is replaced by the GLOBAL
    order statistic at its within-group percentile rank — after it, all
    groups share one distribution (the cross-array calibration step of
    expression/analytics pipelines; here: make document-length
    distributions comparable across languages). Type-1 (no
    interpolation, integer-exact): target index = ⌈r·N/n_g⌉ computed as
    ``(r·N + n_g − 1) div n_g`` — identical truncation both engines.

    Scale shape, no global single-task sort anywhere:
      1. within-group rank + group size — ONE group-keyed shuffle
         (two windows, same partitioning);
      2. GLOBAL ranks via the range-bucket decomposition
         (sorted_neighborhood's trick, numeric): bucket by value range
         (bounds from a 2-scalar agg — the only collect, 2 values),
         rank inside each bucket, add broadcast bucket offsets from the
         bucket-cardinality-sized running sum. Sort parallelism =
         n_buckets, grow with data;
      3. one equi join of row target-index against the global
         order-stat table (data-sized, keyed — AQE-managed).

    Global order ties break by (value, key, id) — total and portable.
    Returns (``id_col``, ``key_col``, ``value_col``, q_value).
    """
    n_g_w = Window.partitionBy(key_col)
    r_w = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = df.select(
        id_col,
        key_col,
        value_col,
        F.row_number().over(r_w).cast("bigint").alias("__r"),
        F.count(F.lit(1)).over(n_g_w).cast("bigint").alias("__ng"),
    )

    lo, hi = df.agg(F.min(value_col), F.max(value_col)).first()
    if lo is None:
        return ranked.select(
            id_col, key_col, value_col,
            F.col(value_col).alias("q_value"),
        ).limit(0)
    # Bucket ids are a DECOMPOSITION detail only (the global rank is
    # bucket-local rank + exact offsets, correct for ANY bucketing
    # monotone in value). Integer inputs take the pure-integer div path
    # (uniform audit discipline); fractional inputs use float division,
    # safe because IEEE round-to-nearest is weakly monotone — a
    # boundary value can mis-round into the neighbor bucket but never
    # out of order.
    if isinstance(lo, int) and isinstance(hi, int):
        iwidth = max((hi - lo) // n_buckets, 1)
        raw_bk = F.expr(f"({value_col} - {lo}) div {iwidth}")
    else:
        width = (float(hi) - float(lo)) / n_buckets or 1.0
        raw_bk = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bk = F.least(F.lit(n_buckets - 1), raw_bk.cast("int"))
    in_bucket = Window.partitionBy("__bk").orderBy(
        F.col(value_col).asc(), F.col(key_col).asc(), F.col(id_col).asc()
    )
    bucketed = df.select(value_col, key_col, id_col).withColumn("__bk", bk)
    local = bucketed.withColumn(
        "__lr", F.row_number().over(in_bucket).cast("bigint")
    )
    # bucket counts: ONE bounded (n_buckets rows) aggregate feeds both
    # the running-sum offsets and the grand total — no extra data scan.
    # bounded_checkpoint proves the pre-checkpoint plan bounded and
    # marks the LogicalRDD so the window audit sees through it (the
    # former tests/test_window_audit.py allowlist entry)
    from pdcm_etl_spark.plans.audit import bounded_checkpoint

    bcounts = bounded_checkpoint(
        bucketed.groupBy("__bk").agg(F.count(F.lit(1)).alias("__bn"))
    )
    off_w = Window.orderBy("__bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bcounts.select(
        "__bk",
        F.coalesce(F.sum("__bn").over(off_w), F.lit(0))
        .cast("bigint")
        .alias("__off"),
    )
    # order-stat table is DATA-SIZED (one row per input row): the final
    # join must shuffle — Catalyst's estimate behind the window subtree
    # underestimates it and would broadcast the whole corpus (the
    # jaccard _size_sides hazard), so the join strategy is pinned
    order_stats = (
        local.join(F.broadcast(offsets), "__bk")
        .select(
            (F.col("__lr") + F.col("__off")).alias("__gr"),
            F.col(value_col).alias("q_value"),
        )
        .hint("shuffle_hash")
    )
    total = bcounts.agg(F.sum("__bn").cast("bigint").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "__idx",
            F.expr("(__r * __n + __ng - 1) div __ng"),
        )
        .join(order_stats, F.col("__idx") == F.col("__gr"))
        .select(id_col, key_col, value_col, "q_value")
    )


def grouped_quantiles(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    quantiles_pct: tuple[int, ...] = (25, 50, 75, 90),
) -> DataFrame:
    """Exact multi-quantile profile per group in ONE rank pass — the
    distribution summary (p25/p50/p75/p90) the approx_percentile sketch
    estimates, as bit-exact DISCRETE order statistics (value at sorted
    position ⌈q·n⌉, ties broken by id — the iqr/mad position-pick
    idiom, generalized to any quantile list).

    Plan: one per-group rank window + one conditional aggregation that
    extracts ALL requested quantile rows in the same pass (a max(when)
    per quantile — never one window or scan per quantile). Integer
    percent quantiles keep the position formula ⌈q·n/100⌉ =
    (q·n + 99) div 100 exact on both engines.

    Returns (key, n, q<p>_micro ...) — one row per group.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        value_micro.cast("bigint").alias("m"),
    ).filter(F.col("m").isNotNull())
    w = Window.partitionBy("key").orderBy("m", "id")
    ranked = base.withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    ).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("key"))
    )
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in quantiles_pct:
        aggs.append(
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"({q} * n + 99) div 100"),
                    F.col("m"),
                )
            ).alias(f"q{q}_micro")
        )
    return ranked.groupBy("key").agg(*aggs)


def winsorize_group(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    lo_bp: int = 100,
    hi_bp: int = 9900,
) -> DataFrame:
    """Per-group winsorization — clip every value to the group's
    [lo_bp, hi_bp] basis-point order statistics (the outlier-taming
    step a training pipeline runs before scaling; clipping keeps the
    row count, unlike filtering). Bounds are bit-exact DISCRETE order
    statistics (value at sorted position ⌈q·n/10000⌉, ties broken by
    id — the grouped_quantiles idiom at basis-point resolution).

    Plan: one group-keyed shuffle TOTAL — rank + group size + both
    boundary extractions are windows over the SAME partitioning
    (rank window, then whole-partition max(when(rn = idx)) windows on
    top: Catalyst stacks them on one Exchange, no join-back). Per-row
    clip is pure column arithmetic.

    Returns (id, key, value_micro, lo_micro, hi_micro,
    winsorized_micro).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        value_micro.cast("bigint").alias("m"),
    ).filter(F.col("m").isNotNull())
    w = Window.partitionBy("key").orderBy("m", "id")
    wp = Window.partitionBy("key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = (
        base.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("lo_idx", F.expr(f"greatest(({lo_bp} * n + 9999) div 10000, 1)"))
        .withColumn("hi_idx", F.expr(f"greatest(({hi_bp} * n + 9999) div 10000, 1)"))
    )
    bounded = ranked.withColumn(
        "lo_micro",
        F.max(F.when(F.col("rn") == F.col("lo_idx"), F.col("m"))).over(wp),
    ).withColumn(
        "hi_micro",
        F.max(F.when(F.col("rn") == F.col("hi_idx"), F.col("m"))).over(wp),
    )
    return bounded.select(
        "id",
        "key",
        F.col("m").alias("value_micro"),
        "lo_micro",
        "hi_micro",
        F.greatest(
            "lo_micro", F.least("hi_micro", F.col("m"))
        ).alias("winsorized_micro"),
    )


def quantile_bin(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    n_bins: int = 10,
) -> DataFrame:
    """Per-group equal-frequency discretization — each value replaced
    by its quantile bin 1..n_bins (the feature-binning step before
    crosstabs, WOE/target encodings, and monotone models; equal-WIDTH
    binning collapses under skew, equal-frequency does not).

    bin = ⌈rank·B/n⌉ = (rank·B + n − 1) div n over the (value, id)
    rank — type-1 exact, identical truncation both engines; the
    rank·B product rides bigint after an explicit cast (rank is the
    int32 row_number class). Same ONE-group-shuffle shape as
    winsorize_group: rank + size are windows over one partitioning,
    the bin is pure arithmetic — no second pass, no join.

    Returns (id, key, value_micro, bin).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        value_micro.cast("bigint").alias("m"),
    ).filter(F.col("m").isNotNull())
    w = Window.partitionBy("key").orderBy("m", "id")
    wp = Window.partitionBy("key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        base.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .select(
            "id",
            "key",
            F.col("m").alias("value_micro"),
            F.expr(f"(rn * {n_bins} + n - 1) div n").alias("bin"),
        )
    )


def trimmed_mean_group(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    trim_bp: int = 500,
) -> DataFrame:
    """Per-group trimmed mean — the mean of the values STRICTLY inside
    the [trim_bp, 10000−trim_bp] basis-point rank band (the robust
    location estimate between the median and the mean: outliers are
    dropped, not clipped like winsorize_group). Integer-exact: band
    membership is a rank predicate, the kept sum rides DECIMAL(38,0),
    and the mean is a floor division — bit-identical cross-engine
    (a float trimmed mean would inherit accumulation-order noise).

    Same ONE-group-shuffle discipline as the rest of the rank kit:
    rank + group size are windows over one partitioning; the trim is a
    conditional aggregation on the SAME key (map-side partial) — no
    join, no second pass over data.

    Returns (key, n, n_kept, trimmed_mean_micro, mean_micro) — the
    untrimmed mean rides along so the trim's effect is visible in one
    row.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        value_micro.cast("bigint").alias("m"),
    ).filter(F.col("m").isNotNull())
    w = Window.partitionBy("key").orderBy("m", "id")
    wp = Window.partitionBy("key").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lo = f"({trim_bp} * n) div 10000"          # keep rn >  lo
    hi = f"n - (({trim_bp} * n) div 10000)"    # keep rn <= hi
    ranked = (
        base.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn(
            "__keep",
            F.expr(f"rn > {lo} AND rn <= {hi}"),
        )
    )
    return ranked.groupBy("key").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.expr(
            "CAST(CASE WHEN sum(CASE WHEN __keep THEN 1 ELSE 0 END) = 0"
            " THEN NULL ELSE"
            " sum(CASE WHEN __keep THEN CAST(m AS DECIMAL(38,0)) END)"
            " div sum(CASE WHEN __keep THEN 1 ELSE 0 END) END AS BIGINT)"
        ).alias("trimmed_mean_micro"),
        F.expr(
            "CAST(sum(CAST(m AS DECIMAL(38,0))) div count(1) AS BIGINT)"
        ).alias("mean_micro"),
    )


def grouped_auc_ppm(
    df: DataFrame,
    key_col: str,
    score_micro,
    label_pred,
) -> DataFrame:
    """Exact ROC-AUC per group, in ppm — the model-eval primitive (how
    well does ``score`` rank positives above negatives?), computed as
    the Mann–Whitney U statistic over the score HISTOGRAM:

        AUC = (#(pos > neg) + ½·#(pos == neg)) / (n_pos·n_neg)

    held in integers as (2·gt + ties) ppm div (2·n_pos·n_neg) — no
    trapezoids, no float ranks, no tie-averaging drift: bit-identical
    cross-engine (float AUC implementations disagree on ties and
    accumulation order).

    Scale shape: one (key, score)-keyed aggregation collapses the data
    to the per-group score histogram (map-side combined); a cumulative
    window over the histogram — partitioned by key, sized by DISTINCT
    scores, not rows — yields each score's count of negatives below;
    one final key aggregation. Products ride DECIMAL(38,0)
    (pos·cum_neg reaches n²/4). Groups with no positives or no
    negatives emit NULL (AUC undefined).

    Returns (key, n_pos, n_neg, auc_ppm nullable).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        score_micro.cast("bigint").alias("s"),
        F.when(label_pred, 1).otherwise(0).alias("y"),
    ).filter(F.col("s").isNotNull())
    hist = base.groupBy("key", "s").agg(
        F.sum("y").cast("bigint").alias("np"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("nn"),
    )
    w = Window.partitionBy("key").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.withColumn(
        "neg_below",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).cast("bigint"),
    )
    return (
        cum.groupBy("key")
        .agg(
            F.sum("np").cast("bigint").alias("n_pos"),
            F.sum("nn").cast("bigint").alias("n_neg"),
            F.sum(
                F.col("np").cast("decimal(38,0)") * F.col("neg_below")
            ).alias("__gt"),
            F.sum(
                F.col("np").cast("decimal(38,0)") * F.col("nn")
            ).alias("__ties"),
        )
        .select(
            "key",
            "n_pos",
            "n_neg",
            F.expr(
                "CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE"
                " ((2 * __gt + __ties) * 1000000)"
                " div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) END"
                " AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


def grouped_gain_curve(
    df: DataFrame,
    key_col: str,
    id_col: str,
    score_micro,
    label_pred,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table per group — the targeting-model
    eval primitive ("the top decile by score captures X% of all
    positives at Y× the base rate"), exact in integers:

      rank rows by (score desc, id asc) — a TOTAL order, so ties are
      deterministic and portable; bucket b = 1 + ((rank−1)·k) div n
      (pure integer split, near-equal buckets); per bucket count rows
      and positives; cumulate over the ≤k-row bucket table;
      gain_ppm  = (1e6·cum_pos) div total_pos,
      lift_ppm  = (1e6·cum_pos·n) div (cum_n·total_pos),
      both single cross-multiplied divisions on DECIMAL(38,0) — no
      float percentage anywhere. Groups with zero positives emit NULL
      gains (undefined).

    Scale shape: ONE key-partitioned Exchange carries the rank window
    and the group-size/total-positive windows (same partitioning); the
    bucket aggregation shuffles (key, bucket) — cardinality k·|keys|;
    the cumulative window runs over that bounded table, never over
    rows. No joins, no collects.

    Returns (key, bucket, n_rows, n_pos, cum_pos, gain_ppm, lift_ppm).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        score_micro.cast("bigint").alias("s"),
        F.when(label_pred, 1).otherwise(0).alias("y"),
    ).filter(F.col("s").isNotNull())
    wr = Window.partitionBy("key").orderBy(
        F.col("s").desc(), F.col("id").asc()
    )
    wk = Window.partitionBy("key")
    ranked = (
        base.withColumn("__r", F.row_number().over(wr).cast("bigint"))
        .withColumn("__n", F.count(F.lit(1)).over(wk).cast("bigint"))
        .withColumn("__tp", F.sum("y").over(wk).cast("bigint"))
        .withColumn(
            "bucket",
            F.expr(f"1 + ((__r - 1) * {n_buckets}) div __n").cast("int"),
        )
    )
    per_bucket = ranked.groupBy("key", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.max("__n").alias("__n"),
        F.max("__tp").alias("__tp"),
    )
    wc = Window.partitionBy("key").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_bucket.withColumn(
            "cum_pos", F.sum("n_pos").over(wc).cast("bigint")
        )
        .withColumn("__cum_n", F.sum("n_rows").over(wc).cast("bigint"))
        .select(
            "key",
            "bucket",
            "n_rows",
            "n_pos",
            "cum_pos",
            F.expr(
                "CAST(CASE WHEN __tp = 0 THEN NULL ELSE"
                " (CAST(cum_pos AS DECIMAL(38,0)) * 1000000) div __tp END"
                " AS BIGINT)"
            ).alias("gain_ppm"),
            F.expr(
                "CAST(CASE WHEN __tp = 0 THEN NULL ELSE"
                " (CAST(cum_pos AS DECIMAL(38,0)) * __n * 1000000)"
                " div (CAST(__cum_n AS DECIMAL(38,0)) * __tp) END"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def rrf_fusion(
    df: DataFrame,
    key_col: str,
    id_col: str,
    score_a,
    score_b,
    k: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers per group — the standard
    way to combine heterogeneous retrieval/curation signals (BM25 +
    embedding, quality + freshness) WITHOUT calibrating their score
    scales: each ranker contributes 1/(k + rank), and only ranks
    matter.

    Exact integer contract: contribution = 1000000 div (k + rank) —
    the integer-floored micro form of the classic k=60 RRF (float
    implementations disagree in the last ulp when summing many
    reciprocals; floored micro contributions compare identically on
    both engines). Ranks are total-ordered by (score desc, id asc),
    fusion ties break by id.

    Scale shape: both rank windows AND the fused top-n window share ONE
    group-keyed Exchange (the winsorize window-over-window idiom —
    same partitionBy → Catalyst plans one shuffle, three sorts); no
    joins, no global sort, no collects.

    Returns top-n per group: (key, id, rank_a, rank_b, rrf_micro).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        score_a.cast("bigint").alias("sa"),
        score_b.cast("bigint").alias("sb"),
    ).filter(F.col("sa").isNotNull() & F.col("sb").isNotNull())
    wa = Window.partitionBy("key").orderBy(
        F.col("sa").desc(), F.col("id").asc()
    )
    wb = Window.partitionBy("key").orderBy(
        F.col("sb").desc(), F.col("id").asc()
    )
    ranked = (
        base.withColumn("rank_a", F.row_number().over(wa).cast("bigint"))
        .withColumn("rank_b", F.row_number().over(wb).cast("bigint"))
        .withColumn(
            "rrf_micro",
            F.expr(
                f"1000000 div ({k} + rank_a)"
                f" + 1000000 div ({k} + rank_b)"
            ).cast("bigint"),
        )
    )
    wf = Window.partitionBy("key").orderBy(
        F.col("rrf_micro").desc(), F.col("id").asc()
    )
    return (
        ranked.withColumn("__fr", F.row_number().over(wf))
        .filter(F.col("__fr") <= top_n)
        .select("key", "id", "rank_a", "rank_b", "rrf_micro")
    )


def weighted_median_group(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    weight,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-group EXACT lower weighted median: the smallest value v such
    that the cumulative weight of rows with value ≤ v reaches half the
    group's total weight. The frequency-weighted completion of the rank
    kit (grouped_quantiles / trimmed_mean_group are unweighted): when a
    row represents ``weight`` identical observations (line items ×
    quantity, token counts, sampled multiplicities), the unweighted
    median answers the wrong question.

    Scale shape — the TWO-LEVEL window decomposition (shuffle_shards'
    pos idiom + ks_drift's range buckets): a single-level
    partitionBy(key) window caps parallelism at the KEY COUNT, which
    for a 3-value key means two-million-row sorts per task at sf1 (14 s
    measured). Instead the running weight partitions by (key,
    range-bucket(value)) — parallelism keys × n_buckets — and
    cross-bucket offsets come from a window over the ≤ keys×n_buckets
    per-bucket totals (bounded — never over data), broadcast-joined
    back. Bucket ids are integer ``(m − lo) div width`` (monotone in
    the value, so bucket order IS value order and offset + in-bucket
    running sum ≡ the single-window cumulative weight, bit-exactly).
    Weight accumulators are plain BIGINT (a DECIMAL(38,0) belt here is
    the expensive path; raw-column bigint sums are the overflow-audit-
    safe class, same as row counts) and the crossing test is the
    multiplication-free ``cw >= tw − cw`` (≡ 2·cw ≥ tw).

    The selected VALUE is intra-tie-order independent: among tied
    values the largest running weight is the tie-group total, so
    whether ANY row of value v crosses half-weight does not depend on
    the (deterministic anyway) id tie-break.

    Returns (key, n, total_weight, wmedian_micro).
    """
    id_expr = F.col(id_col) if isinstance(id_col, str) else id_col
    base = df.select(
        F.col(key_col),
        id_expr.alias("__id"),
        value_micro.cast("bigint").alias("__m"),
        weight.cast("bigint").alias("__w"),
    ).filter(F.col("__m").isNotNull() & (F.col("__w") > 0))
    lo, hi = base.agg(F.min("__m"), F.max("__m")).first()
    if lo is None:
        return (
            base.groupBy(key_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.lit(None).cast("bigint").alias("total_weight"),
                F.lit(None).cast("bigint").alias("wmedian_micro"),
            )
            .select(
                F.col(key_col).alias("key"),
                "n",
                "total_weight",
                "wmedian_micro",
            )
        )
    width = max((int(hi) - int(lo)) // n_buckets, 1)
    bucketed = base.withColumn(
        "__bk",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"(__m - {int(lo)}) div {width}").cast("int"),
        ),
    )
    w_in = Window.partitionBy(key_col, "__bk").orderBy("__m", "__id")
    ranked = bucketed.select(
        F.col(key_col), "__m", "__w", "__bk",
        F.sum("__w").over(w_in).alias("__cw_in"),
    )
    # per-(key, bucket) totals: bounded by keys × n_buckets; the offset
    # (weight strictly before this bucket) and the group total are
    # windows over THAT bounded frame, broadcast back
    totals = bucketed.groupBy(key_col, "__bk").agg(
        F.sum("__w").alias("__bw")
    )
    w_off = (
        Window.partitionBy(key_col)
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        F.col(key_col).alias("__k2"),
        F.col("__bk").alias("__bk2"),
        F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__bw").over(w_tot).alias("__tw"),
    )
    joined = ranked.join(
        F.broadcast(offsets),
        (F.col(key_col) == F.col("__k2")) & (F.col("__bk") == F.col("__bk2")),
    )
    return (
        joined.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("__tw").cast("bigint").alias("total_weight"),
            F.min(
                F.when(
                    F.col("__off") + F.col("__cw_in")
                    >= F.col("__tw") - (F.col("__off") + F.col("__cw_in")),
                    F.col("__m"),
                )
            ).alias("wmedian_micro"),
        )
        .select(
            F.col(key_col).alias("key"), "n", "total_weight", "wmedian_micro"
        )
    )


def decile_migration(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    period_b_pred,
    n_bins: int = 10,
) -> DataFrame:
    """Decile migration matrix: per group, rank every entity's metric in
    period A and period B into exact integer deciles and count the
    (decile_a → decile_b) transitions — the cohort-quality drift view
    behind "are last quarter's top users still top users" (grouped_gain
    ranks against labels; this ranks a population against ITSELF across
    time). Only entities active in BOTH periods migrate; the matrix is
    bounded by n_bins² per group. NULL entity ids are dropped up front:
    the rank windows order by (__v, __id) to break value ties, and a
    NULL id tied on value would rank NULLS FIRST in Spark but NULLS
    LAST under ANSI/DuckDB defaults — an engine-visible divergence, and
    a NULL id is not a trackable entity anyway.

    Scale shape: one (key, id) conditional aggregation splits the two
    period sums in a single pass (no self-join of the two periods);
    both rank windows and the final count SHARE one key Exchange
    (different sort orders reuse the partitioning — two Sorts, one
    shuffle). Deciles are the exact integer formula
    ((rank − 1) · n_bins) div n + 1 on bigint ranks.

    Returns (key, decile_a, decile_b, n_entities).
    """
    base = (
        df.select(
            F.col(key_col),
            F.col(id_col).alias("__id"),
            value_micro.cast("decimal(38,0)").alias("__v"),
            F.when(period_b_pred, 1).otherwise(0).alias("__b"),
        )
        .filter(F.col("__v").isNotNull() & F.col("__id").isNotNull())
        .groupBy(key_col, "__id")
        .agg(
            F.sum(F.when(F.col("__b") == 0, F.col("__v"))).alias("__va"),
            F.sum(F.when(F.col("__b") == 1, F.col("__v"))).alias("__vb"),
        )
        .filter(F.col("__va").isNotNull() & F.col("__vb").isNotNull())
    )
    wa = Window.partitionBy(key_col).orderBy("__va", "__id")
    wb = Window.partitionBy(key_col).orderBy("__vb", "__id")
    wn = Window.partitionBy(key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = base.select(
        F.col(key_col),
        F.row_number().over(wa).cast("bigint").alias("__ra"),
        F.row_number().over(wb).cast("bigint").alias("__rb"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("__n"),
    )
    dec = lambda r: F.expr(f"CAST((({r} - 1) * {n_bins}) div __n AS INT) + 1"
                           )
    return (
        ranked.select(
            F.col(key_col),
            dec("__ra").alias("decile_a"),
            dec("__rb").alias("decile_b"),
        )
        .groupBy(key_col, "decile_a", "decile_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
        .select(
            F.col(key_col).alias("key"), "decile_a", "decile_b", "n_entities"
        )
    )


def embedding_norm_profile(
    df: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-health profile per label/cell: vector counts, zero
    vectors, dimensionality, and exact-integer L2-norm statistics —
    the pre-flight before any cosine ANN build (a zero vector NaNs
    cosine; a norm distribution split across labels means the encoder
    changed mid-corpus; a dim mismatch is a hard pipeline bug).

    Float discipline (the repo's ANN rule): the norm is computed
    per-vector in double via a sequential higher-order fold (both
    engines fold left-to-right over the same array → bit-identical),
    floored to integer ppm ONCE, and every cross-row statistic
    (min/max/avg) then rides exact BIGINT arithmetic — no float ever
    crosses an aggregation boundary, so summation order can't change
    the answer.

    Scale shape: all per-vector math is map-side; ONE label-keyed
    aggregation, output bounded by the label vocabulary.

    Returns (label, n_vecs, n_zero, n_dims, min_norm_ppm, max_norm_ppm,
    avg_norm_ppm).
    """
    from pdcm_etl_spark.operators.similarity import dot

    v = F.col(vec_col).cast("array<double>")
    ss = dot(v, v)  # the ANN family's proven sequential-order fold
    per = df.select(
        F.col(label_col).alias("label"),
        F.size(vec_col).alias("__dim"),
        F.floor(F.sqrt(ss) * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("__norm_ppm"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("__norm_ppm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        F.max("__dim").cast("int").alias("n_dims"),
        F.min("__norm_ppm").alias("min_norm_ppm"),
        F.max("__norm_ppm").alias("max_norm_ppm"),
        # DECIMAL(38,0) accumulator: norm_ppm is product-derived
        # (norm × 1e6) and a 64-bit sum of ~1e8-scale ppm dies around
        # 1e11 vectors per label — the overflow-audit class
        F.expr(
            "CAST(sum(CAST(__norm_ppm AS DECIMAL(38,0)))"
            " DIV count(1) AS BIGINT)"
        ).alias("avg_norm_ppm"),
    )
