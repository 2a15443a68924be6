"""Order-statistics analytics: the 2-D Pareto frontier (skyline).

The skyline operator (Börzsönyi, Kossmann & Stocker, ICDE 2001) returns
the points not dominated by any other — for two minimized dimensions,
"no other point is <= on both and < on one". Databases implement it
with a dedicated operator; on Spark the scale-safe shape is the
partition-prune-then-resolve plan below, never the naive O(n²)
self-join the textbook definition suggests (that IS the oracle, run by
DuckDB at test scale only).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared

_INF = 1 << 62


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Skyline of distinct (x, y) points, both dimensions MINIMIZED.

    Plan, O(n log n) work and one O(n_buckets) resolve instead of O(n²):

    1. dedup to distinct points with multiplicities (one hash agg);
    2. range-bucket on x (bounds from a two-scalar min/max agg — the
       only collect, bounded at two values);
    3. per-bucket running min of y over (x asc, y asc) order — a window
       PARTITIONED by bucket, so parallelism is n_buckets and each task
       sorts ~n/n_buckets points (grow n_buckets with data; an extra
       in-bucket sub-split doesn't change the math);
    4. cross-bucket carry: each bucket's min-y, cumulated over STRICTLY
       earlier buckets by an unpartitioned window over the n_buckets-row
       aggregate (bounded — never over data);
    5. a point survives iff every earlier point's y (in-bucket prefix
       min and earlier-bucket carry) is strictly above its y. Sorted by
       (x asc, y asc), a distinct point is dominated exactly when some
       predecessor has y <= its y — predecessors have x <= x with
       inequality strict on x or (same x) strict on y.

    Returns (x, y, n_rows) — the non-dominated distinct points.
    """
    pts = (
        df.groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    lo, hi = df.agg(F.min(x_col), F.max(x_col)).first()
    if lo is None:
        return pts.select("x", "y", "n_rows")  # empty input
    # Bucket ids are a DECOMPOSITION detail only (never in the output):
    # the carry logic is exact for ANY bucketing monotone in x. Integer
    # inputs take the pure-integer div path (uniform audit discipline);
    # fractional inputs use float division, which is safe here because
    # IEEE round-to-nearest is weakly monotone — floor((x−lo)/w) can
    # mis-round at a boundary but never out of order.
    if isinstance(lo, int) and isinstance(hi, int):
        iwidth = max((hi - lo) // n_buckets, 1)
        raw = F.expr(f"(x - {lo}) div {iwidth}")
    else:
        width = (float(hi) - float(lo)) / n_buckets or 1.0
        raw = F.floor((F.col("x") - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.lit(n_buckets - 1), raw.cast("int"))
    b = pts.withColumn("__bk", bucket)
    w_in = (
        Window.partitionBy("__bk")
        .orderBy("x", "y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("__pmin", F.min("y").over(w_in))
    bmin = b.groupBy("__bk").agg(F.min("y").alias("__bymin"))
    w_b = (
        Window.orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmin.select(
        "__bk", F.min("__bymin").over(w_b).alias("__carry")
    )
    return (
        local.join(carry, "__bk")
        .filter(
            F.coalesce(F.least("__pmin", "__carry"), F.lit(_INF))
            > F.col("y")
        )
        .select("x", "y", "n_rows")
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Join-key skew diagnostics: the top-N heaviest keys with absolute
    counts, corpus share, and how many times the average key's weight
    each carries — the pre-flight check that decides whether a join on
    ``key_col`` needs salting (``functions/joins.py::salted_join``) or
    can rely on AQE's skew split. At 100 TB a single 5%-share key means
    one 5 TB shuffle partition; this is the operator that finds it
    BEFORE the join does.

    Scale shape: one partial-aggregating groupBy collapses the data to
    key cardinality; the corpus totals reduce further to ONE row that
    re-enters by broadcast (never a window over the un-aggregated data);
    top-N is orderBy+limit → TakeOrderedAndProject (per-partition heaps,
    no global sort). Shares are integer ppm via bigint floor division —
    engine-exact.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("key_rows")
    )
    totals = counts.agg(
        F.sum("key_rows").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "key_rows",
            F.expr(
                "CAST((CAST(key_rows AS DECIMAL(38,0)) * 1000000)"
                " DIV total_rows AS BIGINT)"
            ).alias("share_ppm"),
            # per-mille of the average key weight: rows * n_keys / total.
            # The product rides DECIMAL(38,0): key_rows·n_keys·1000 passes
            # int64 once key_rows·n_keys ≥ 9.2e15 (a 1e9-row hot key over
            # 1e8 keys — exactly the regime this diagnostic targets), and
            # ANSI Spark aborts on the overflow.
            F.expr(
                "CAST((CAST(key_rows AS DECIMAL(38,0)) * n_keys * 1000)"
                " DIV total_rows AS BIGINT)"
            ).alias("x_avg_permille"),
        )
        .orderBy(F.col("key_rows").desc(), F.col("key").asc())
        .limit(top_n)
    )


def table_stats(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass per-column table statistics — the ANALYZE TABLE
    equivalent as a DataFrame: row count, non-null count, exact
    distinct count, and min/max (string-rendered) for every requested
    column, computed in a SINGLE aggregation pass over the data
    (Spark plans the multi-column count_distinct set as one Expand +
    aggregate — one scan, one shuffle of partial aggregates, never one
    job per column; the long form comes from stack() over the 1-row
    result, driver-free).

    Exact NDV via count_distinct: the Expand factor is #cols, so cost
    grows with the column list — at 100 TB profile the columns you
    need, or swap approx_count_distinct in (estimate; not
    oracle-hashable, which is why exact is the default here).
    TIMESTAMP min/max is rendered via date_format (engine-pinned
    format); FLOAT/DOUBLE min/max is emitted NULL — binary64 extremes
    have no portable text form (use quantile/histogram profilers for
    numeric spread).

    Returns (col_name, n_rows, n_nonnull, ndv, min_s, max_s).
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        dt = dict(df.dtypes)[c]
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__ndv_{c}"))
        # aggregate on the NATIVE type, render the extremum afterwards —
        # rendering first would make min/max lexicographic ("9" > "14")
        if dt in ("float", "double"):
            mn, mx = "CAST(NULL AS STRING)", "CAST(NULL AS STRING)"
        elif dt.startswith("timestamp"):
            mn = f"date_format(min(`{c}`), 'yyyy-MM-dd HH:mm:ss')"
            mx = f"date_format(max(`{c}`), 'yyyy-MM-dd HH:mm:ss')"
        else:
            mn = f"CAST(min(`{c}`) AS STRING)"
            mx = f"CAST(max(`{c}`) AS STRING)"
        aggs.append(F.expr(mn).alias(f"__min_{c}"))
        aggs.append(F.expr(mx).alias(f"__max_{c}"))
    one = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __nn_{c}, __ndv_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stacked}) AS "
        "(col_name, n_nonnull, ndv, min_s, max_s)",
        "__n_rows AS n_rows",
    ).select("col_name", "n_rows", "n_nonnull", "ndv", "min_s", "max_s")


def crosstab_lift(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Categorical association profile of two columns: the contingency
    table with each cell's observed count, marginals, and integer-ppm
    lift = 1e6 · n · N / (row_n · col_n) — the independence diagnostic
    (1e6 = independent; the chi-square statistic needs fractional
    expected counts, lift carries the same per-cell signal in exact
    integers that hash across engines).

    Plan: one (row, col) count aggregation (cell cardinality ≪ rows),
    marginals re-aggregated FROM THE CELLS, the grand total from the
    same cells as a one-row broadcast. The cell table is shared so the
    marginal/total branches read the materialized cells — without it
    each lineage branch re-derives the aggregation from the scan and
    the data is read FOUR times (verified in the plan: 4 FileScans, no
    static exchange reuse). The shared table is cell-cardinality-sized
    — trivial at any scale.

    Returns (row_val, col_val, n, row_n, col_n, lift_ppm).
    """
    cells = shared(
        df.select(
            F.col(row_col).alias("row_val"), F.col(col_col).alias("col_val")
        )
        .groupBy("row_val", "col_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_n = cells.groupBy("row_val").agg(F.sum("n").alias("row_n"))
    col_n = cells.groupBy("col_val").agg(F.sum("n").alias("col_n"))
    total = cells.agg(F.sum("n").alias("total")).withColumn(
        "__one", F.lit(1)
    )
    return (
        cells.join(F.broadcast(row_n), "row_val")
        .join(F.broadcast(col_n), "col_val")
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(total), "__one")
        .select(
            "row_val",
            "col_val",
            "n",
            "row_n",
            "col_n",
            # numerator rides DECIMAL(38,0): n * total * 1e6 passes int64
            # once the table exceeds ~3M rows (n·total ≥ 9.2e12), and ANSI
            # Spark aborts on the overflow — same class as the spearman /
            # percentile_rank fixes. 1e13·1e13·1e6 = 1e32 < 1e38 so the
            # decimal never saturates at any plausible corpus size.
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * n * total)"
                " div (row_n * col_n)"
            )
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )


def linreg_group(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple OLS (y = a + b·x) with engine-exact integer
    outputs — the closed-form regression over integer-valued features
    (slope in ppm, intercept in milli-units).

    ONE keyed aggregation computes the five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) with map-side partial aggregation — the
    textbook distributed regression shape: no second pass, no driver
    math. Products ride DECIMAL(38,0) end to end: at 1e12 rows/group
    with x ≤ 1e2 and y ≤ 1e7, n·Σxy ≈ 5e32 < 1e38, while the same
    products overflow int64 at ~1e5 rows — the ANSI-abort class the
    spearman/percentile fixes established. Division is plain ``div``
    (truncation toward zero, matching DuckDB ``//`` on negatives —
    the r5 division-semantics audit).

    Inputs must be integer-valued (cast upstream); groups with zero
    x-variance yield NULL slope/intercept (the SQL-natural contract).
    """
    d38 = "DECIMAL(38,0)"
    a = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(x_col).cast(d38)).alias("sx"),
        F.sum(F.col(y_col).cast(d38)).alias("sy"),
        F.sum((F.col(x_col).cast(d38) * F.col(y_col).cast(d38))).alias("sxy"),
        F.sum((F.col(x_col).cast(d38) * F.col(x_col).cast(d38))).alias("sxx"),
    )
    det = "(n * sxx - sx * sx)"
    return a.select(
        "key",
        "n",
        F.expr(
            f"CAST(CASE WHEN {det} = 0 THEN NULL ELSE "
            f"(CAST(1000000 AS {d38}) * (n * sxy - sx * sy)) div {det} "
            "END AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            f"CAST(CASE WHEN {det} = 0 THEN NULL ELSE "
            f"(CAST(1000 AS {d38}) * (sy * sxx - sx * sxy)) div {det} "
            "END AS BIGINT)"
        ).alias("intercept_milli"),
    )


def chi_square_assoc(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Chi-square statistic of a two-column contingency table — the
    categorical-association test, in the scale-safe rearrangement
    χ² = N·(Σ o²/(rᵢ·cⱼ) − 1).

    The textbook Σ(o−e)²/e form squares o·N (1e52 at 1e13-row tables —
    past even DECIMAL(38,0)); the rearranged per-cell term needs only
    o² · 1e9 ≤ 1e35. Each cell's quotient is truncated to ppb
    IDENTICALLY on both engines (per-cell truncation then exact integer
    summation — deterministic, no float accumulation order issues).

    Plan: one cell aggregation (single scan), marginals re-derived from
    the cells (crosstab_lift's broadcast shape), one bounded-size sum.
    Returns ONE row: (n_rows_cat, n_cols_cat, df, total, chi2_milli).
    """
    cells = shared(
        df.select(
            F.col(row_col).alias("row_val"), F.col(col_col).alias("col_val")
        )
        .groupBy("row_val", "col_val")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_n = cells.groupBy("row_val").agg(F.sum("n").alias("row_n"))
    col_n = cells.groupBy("col_val").agg(F.sum("n").alias("col_n"))
    per_cell = (
        cells.join(F.broadcast(row_n), "row_val")
        .join(F.broadcast(col_n), "col_val")
        .select(
            "row_val",
            "col_val",
            F.expr(
                "(CAST(1000000000 AS DECIMAL(38,0)) * n * n)"
                " div (row_n * col_n)"
            ).alias("q_ppb"),
        )
    )
    return (
        per_cell.agg(
            F.countDistinct("row_val").cast("bigint").alias("n_rows_cat"),
            F.countDistinct("col_val").cast("bigint").alias("n_cols_cat"),
            # q_ppb itself is bigint (Spark `div` yields LONG); cast
            # BEFORE the sum so the accumulator is DECIMAL(38,0) —
            # a bigint sum aborts past ~9.2e9 cells under ANSI
            F.sum(F.col("q_ppb").cast("decimal(38,0)")).alias("sq"),
        )
        .crossJoin(
            F.broadcast(cells.agg(F.sum("n").cast("bigint").alias("total")))
        )
        .select(
            "n_rows_cat",
            "n_cols_cat",
            ((F.col("n_rows_cat") - 1) * (F.col("n_cols_cat") - 1))
            .cast("bigint")
            .alias("deg_freedom"),
            "total",
            F.expr(
                "CAST((total * (sq - CAST(1000000000 AS DECIMAL(38,0))))"
                " div 1000000 AS BIGINT)"
            ).alias("chi2_milli"),
        )
    )


# Benford expected leading-digit shares, ppm-exact literals of
# log10(1 + 1/d) — CONSTANTS on both engines (never computed via float
# log at query time, so no cross-engine libm exposure).
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """Leading-digit distribution of a positive integer column against
    Benford's law — the classic anomaly screen for synthetic/fabricated
    numeric data at corpus scale.

    Leading digit via string head of the BIGINT rendering (identical
    text on both engines for integers — no float formatting exposure);
    one 9-group aggregation + a broadcast one-row total. Output per
    digit: observed count, observed share (ppm), Benford expectation
    (ppm literal), and the signed delta.
    """
    benford = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )
    # ≤9 rows — sharing lets the total derive from the digit counts
    # instead of a SECOND full scan of the data
    digits = shared(
        df.filter(F.col(value_col) > 0)
        .select(
            F.substring(F.col(value_col).cast("bigint").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = digits.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr(
                "CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div total"
                " AS BIGINT)"
            ).alias("share_ppm"),
            benford[F.col("digit")].cast("bigint").alias("benford_ppm"),
        )
        .withColumn(
            "delta_ppm", (F.col("share_ppm") - F.col("benford_ppm"))
        )
    )


def entropy_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (bits) of each requested categorical column —
    the distribution-concentration profile (uniform → log2(k) bits,
    degenerate → 0) used to pick partition keys and spot collapsed
    feature columns.

    Exact-rational rearrangement H = log2(N) − (Σ nᵢ·log2 nᵢ)/N keeps
    one log2 call per DISTINCT value (never per row). log2 is the one
    float in the kit; the output is rounded to 6 dp, so a 1-ulp libm
    divergence between engines (~1e-16 relative) only matters within
    1e-16 of a rounding boundary — and each per-column profile is one
    value-count aggregation + a bounded per-column fold (the melt is
    over column NAMES, map-side).
    """
    if not cols:
        raise ValueError("entropy_profile: cols list must be non-empty")
    per_col = []
    for c in cols:
        vc = (
            df.select(F.col(c).cast("string").alias("v"))
            .where(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        per_col.append(
            vc.agg(
                F.lit(c).alias("column_name"),
                F.sum("n").cast("bigint").alias("n_values"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                F.sum(F.col("n").cast("double") * F.log2("n")).alias("snlogn"),
            ).select(
                "column_name",
                "n_values",
                "n_distinct",
                F.round(
                    F.log2("n_values") - F.col("snlogn") / F.col("n_values"),
                    6,
                ).alias("entropy_bits"),
            )
        )
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionByName(p)
    return out


def gini_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative integer measure —
    the inequality index for corpus-weight concentration (how skewed
    document lengths / source volumes are), integer-ppm exact.

    Rank formulation over values sorted ascending (ties broken by id
    for determinism): G = (2·Σ i·xᵢ − (N+1)·Σx) / (N·Σx). The rank
    window and the aggregation PARTITION ON THE SAME KEY — one shuffle
    total. row_number() is INT32 (the r5 ANSI-abort class), so ranks
    cast to bigint before the product, and Σ i·xᵢ rides DECIMAL(38,0)
    (n²·xmax ≈ 1e29 at 1e12-row groups — int64 dies at ~1e5 rows).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    # rank and aggregate under the ORIGINAL key attribute — aliasing to
    # "key" before the window gives the agg a different exprId than the
    # window's partitioning and Spark inserts a second Exchange; the
    # rename happens once, after both keyed operators
    ranked = df.select(
        F.col(key_col),
        F.col(value_col).cast("decimal(38,0)").alias("x"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )
    return (
        ranked.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("six"),
        )
        .select(
            F.col(key_col).alias("key"),
            "n",
            F.col("sx").cast("bigint").alias("total_value"),
            F.expr(
                "CAST(CASE WHEN sx = 0 OR n < 2 THEN NULL ELSE"
                " (CAST(1000000 AS DECIMAL(38,0)) * (2 * six - (n + 1) * sx))"
                " div (n * sx) END AS BIGINT)"
            ).alias("gini_ppm"),
        )
    )


def dq_profile(df: DataFrame, rules: list[tuple[str, F.Column]]) -> DataFrame:
    """Declarative data-quality rule evaluation — N violation predicates
    over one table in ONE conditional-aggregation pass (never a scan per
    rule), melted to a (rule_id, checked, violations, pass) long form
    via stack() over the single aggregate row (bounded, driver-free).

    Each rule is (rule_id, violation_predicate_column) — TRUE means the
    row violates. Cross-table rules (FK integrity) don't fit a one-table
    scan; callers union those in as extra rows (see x_dq_check).
    """
    if not rules:
        raise ValueError("dq_profile: rules list must be non-empty")
    for rid, _ in rules:
        # rule ids are interpolated into selectExpr/stack() — restrict
        # to plain identifiers so a quote/space/backtick can't break the
        # generated SQL, and reserve the internal count column's name
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", rid):
            raise ValueError(f"dq_profile: invalid rule id {rid!r}")
        if rid == "__checked":
            raise ValueError("dq_profile: rule id '__checked' is reserved")
    if len({rid for rid, _ in rules}) != len(rules):
        raise ValueError("dq_profile: duplicate rule ids")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__checked")]
    for rid, pred in rules:
        aggs.append(
            F.sum(F.when(pred, 1).otherwise(0)).cast("bigint").alias(rid)
        )
    one = df.agg(*aggs)
    pairs = ", ".join(f"'{rid}', {rid}" for rid, _ in rules)
    return one.selectExpr(
        f"stack({len(rules)}, {pairs}) AS (rule_id, violations)",
        "__checked AS checked",
    ).select(
        "rule_id",
        "checked",
        "violations",
        (F.col("violations") == 0).alias("pass"),
    )


def grouped_moments(
    df: DataFrame,
    key_col: str,
    value_micro,
) -> DataFrame:
    """Exact per-group location/spread moments on an integer metric —
    the numeric completion of table_stats: n, min, max, mean (floor
    micro), and variance from the CENTERED second moment, all integer
    so the oracle matches bit-for-bit (float var/stddev aggregates are
    accumulation-order-dependent and engine-divergent).

    Two keyed passes, both scale-safe at 100 TB:
      1. n/Σ/min/max (one map-side-partial agg) → integer mean
         μ̂ = Σ div n;
      2. Σ(x−μ̂)² against the broadcast-joined μ̂ — centering BEFORE
         squaring keeps the sum ≤ n·range² (~2.4e30 at 1e13 rows of
         5e8-micro values, inside DECIMAL(38,0)), where the textbook
         n·Σx²−(Σx)² rearrangement needs ~2.4e43 and dies. The ONE
         broadcast is group-cardinality-sized.

    Variance is reported with BOTH denominators (population div n,
    sample div n−1) — each bounded by range² and therefore always
    int64-safe; the RAW centered sum is deliberately NOT an output
    column: it grows with n in any fixed unit (4.8e19 already at
    sf0.1 — past int64 — caught by the sf0.1 determinism screen while
    the sf0.01 gate passed with 2× headroom). Returns (key, n,
    min_micro, max_micro, mean_micro, var_micro2, var_sample_micro2).
    """
    base = df.select(
        F.col(key_col).alias("key"),
        value_micro.cast("bigint").alias("m"),
    ).filter(F.col("m").isNotNull())
    # stats is group-cardinality-sized but feeds BOTH the centering
    # join and the final output join — without sharing, each re-runs
    # the full first-pass aggregation over the fact (3 source scans in
    # the r11 sweep). base itself stays unshared: 2 consumers of a
    # narrow projection measured cheaper to recompute (percentile_rank
    # verdict).
    stats = shared(base.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("m").cast("decimal(38,0)")).alias("__s"),
        F.min("m").alias("min_micro"),
        F.max("m").alias("max_micro"),
    ).select(
        "key", "n", "min_micro", "max_micro",
        # integer mean: floor(Σ/n) — both engines truncate div
        F.expr("CAST(__s div n AS BIGINT)").alias("mean_micro"),
    ))
    centered = base.join(F.broadcast(stats), "key").select(
        "key",
        (
            (F.col("m") - F.col("mean_micro")).cast("decimal(38,0)")
            * (F.col("m") - F.col("mean_micro"))
        ).alias("__d2"),
    )
    m2 = centered.groupBy("key").agg(
        F.sum("__d2").cast("decimal(38,0)").alias("__m2")
    )
    return stats.join(m2, "key").select(
        "key",
        "n",
        "min_micro",
        "max_micro",
        "mean_micro",
        F.expr("CAST(__m2 div n AS BIGINT)").alias("var_micro2"),
        F.expr(
            "CAST(CASE WHEN n < 2 THEN NULL ELSE __m2 div (n - 1) END"
            " AS BIGINT)"
        ).alias("var_sample_micro2"),
    )


def distribution_drift(
    df: DataFrame,
    key_col: str,
    after_pred,
) -> DataFrame:
    """Categorical distribution drift between two corpus snapshots —
    the train/serve (or before/after-cutoff) shift monitor a data
    pipeline runs before trusting a refreshed corpus: each category's
    share of the BEFORE slice vs the AFTER slice, and the absolute
    share drift. Integer-ppm exact (PSI's ln(p/q) term is a float
    surface and engine-divergent; total-variation drift — Σ|p−q|/2 via
    these per-category rows — carries the same decision signal
    exactly).

    ONE key-keyed conditional aggregation + a broadcast crossJoin of
    the 1-row totals; shares ride DECIMAL(38,0) products. Categories
    absent from one slice surface with share 0 (never dropped — an
    appearing/disappearing category is the loudest drift there is).

    Returns (key, n_before, n_after, share_before_ppm, share_after_ppm,
    drift_ppm).
    """
    marked = df.select(
        F.col(key_col).alias("key"),
        F.when(after_pred, 1).otherwise(0).alias("__after"),
    )
    per_key = marked.groupBy("key").agg(
        F.sum(F.when(F.col("__after") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_before"),
        F.sum("__after").cast("bigint").alias("n_after"),
    )
    totals = per_key.agg(
        F.sum("n_before").cast("bigint").alias("__tb"),
        F.sum("n_after").cast("bigint").alias("__ta"),
    )
    return (
        per_key.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_before",
            "n_after",
            F.expr(
                "CASE WHEN __tb = 0 THEN CAST(0 AS BIGINT) ELSE"
                " CAST((CAST(n_before AS DECIMAL(38,0)) * 1000000)"
                " div __tb AS BIGINT) END"
            ).alias("share_before_ppm"),
            F.expr(
                "CASE WHEN __ta = 0 THEN CAST(0 AS BIGINT) ELSE"
                " CAST((CAST(n_after AS DECIMAL(38,0)) * 1000000)"
                " div __ta AS BIGINT) END"
            ).alias("share_after_ppm"),
        )
        .withColumn(
            "drift_ppm",
            F.abs(F.col("share_after_ppm") - F.col("share_before_ppm")),
        )
    )


def ks_drift(
    df: DataFrame,
    value_micro,
    after_pred,
    id_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between a BEFORE
    and an AFTER slice of a numeric column — the numeric companion of
    distribution_drift (that one watches category shares; this one
    watches a continuous metric's whole shape). D = max |ECDF_b −
    ECDF_a| reported in exact ppm — the KS statistic is purely
    rank-based, so unlike PSI/KL there is NO float surface at all.

    Scale shape — a global ECDF with NO global sort (the range-bucket
    decomposition of quantile_normalize): rows range-bucket on the
    value (bounds from a two-scalar agg, the only collect); running
    counts are windows PARTITIONED by bucket; cross-bucket offsets
    come from an unpartitioned window over the ≤ n_buckets-row bucket
    totals (bounded — never over data) joined back by broadcast. The
    ECDF gap is evaluated cross-multiplied (|cum_b·n_a − cum_a·n_b|,
    DECIMAL(38,0) — division only at the final ppm render) and AFTER
    each tie group (a value-partitioned max), which is the
    right-continuous mathematical ECDF on both engines. One bounded
    max aggregation finishes.

    Returns one row (n_before, n_after, ks_ppm) — except on empty /
    all-null input, which yields ZERO rows (matching the SQL oracle,
    whose value×total cross join is empty when no values exist).
    """
    # tagged feeds the bounds collect, the per-bucket windows AND the
    # bucket totals — share so the scan+filter runs once (the bounds
    # action materializes it; both bucket consumers replay blocks)
    tagged = shared(
        df.select(
            value_micro.cast("bigint").alias("m"),
            F.col(id_col).alias("id"),
            F.when(after_pred, 1).otherwise(0).alias("a"),
        ).filter(F.col("m").isNotNull())
    )

    lo, hi = tagged.agg(F.min("m"), F.max("m")).first()
    if lo is None:
        # zero rows, contract schema (no dead one-row agg construction)
        return df.sparkSession.createDataFrame(
            [],
            "n_before bigint, n_after bigint, ks_ppm bigint",
        )
    width = max((int(hi) - int(lo)) // n_buckets, 1)
    # pure integer bucketing: m ≥ lo so truncating div == floor div —
    # no float division anywhere in this operator (uniform with the
    # plans/audit.py integer-arithmetic discipline)
    bucketed = tagged.withColumn(
        "__bk",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"(m - {int(lo)}) div {width}").cast("int"),
        ),
    )
    wb = Window.partitionBy("__bk").orderBy("m", "a", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = bucketed.withColumn(
        "__la", F.sum("a").over(wb).cast("bigint")
    ).withColumn("__ln", F.count(F.lit(1)).over(wb).cast("bigint"))
    btot = bucketed.groupBy("__bk").agg(
        F.sum("a").cast("bigint").alias("__ba"),
        F.count(F.lit(1)).cast("bigint").alias("__bn"),
    )
    off_w = Window.orderBy("__bk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "__bk",
        F.coalesce(F.sum("__ba").over(off_w), F.lit(0))
        .cast("bigint")
        .alias("__oa"),
        F.coalesce(F.sum("__bn").over(off_w), F.lit(0))
        .cast("bigint")
        .alias("__on"),
    )
    wv = Window.partitionBy("m").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        local.join(F.broadcast(offsets), "__bk")
        .withColumn(
            "cum_a", (F.col("__oa") + F.col("__la")).cast("decimal(38,0)")
        )
        .withColumn(
            "cum_b",
            (
                (F.col("__on") + F.col("__ln"))
                - (F.col("__oa") + F.col("__la"))
            ).cast("decimal(38,0)"),
        )
        # ECDF is right-continuous: the gap is defined AFTER the whole
        # tie group of an equal value — take each value's final counts
        .withColumn("va", F.max("cum_a").over(wv))
        .withColumn("vb", F.max("cum_b").over(wv))
    )
    return (
        cum.crossJoin(
            F.broadcast(
                tagged.agg(
                    F.sum(F.lit(1) - F.col("a"))
                    .cast("bigint")
                    .alias("n_before"),
                    F.sum("a").cast("bigint").alias("n_after"),
                )
            )
        )
        .select(
            "n_before",
            "n_after",
            F.abs(
                F.col("vb") * F.col("n_after")
                - F.col("va") * F.col("n_before")
            ).alias("__gap"),
        )
        .groupBy("n_before", "n_after")
        .agg(
            F.expr(
                "CAST(CASE WHEN n_before = 0 OR n_after = 0 THEN NULL"
                " ELSE (max(__gap) * 1000000)"
                " div (CAST(n_before AS DECIMAL(38,0)) * n_after) END"
                " AS BIGINT)"
            ).alias("ks_ppm")
        )
    )


def chisq_drift(
    df: DataFrame,
    category_col: str,
    after_pred,
) -> DataFrame:
    """Per-category chi-square drift decomposition between a BEFORE and
    an AFTER slice of a categorical column — answers not just "did the
    distribution move?" (distribution_drift's total-variation number)
    but "WHICH categories drove it?", exactly.

    For the 2×C homogeneity table the per-category contribution
    admits the exact rational form (algebraic identity, no floats):

        contrib_c = (o_ac·n_b − o_bc·n_a)² / (n_a·n_b·(o_ac+o_bc))

    rendered in milli units by one cross-multiplied DECIMAL(38,0)
    division per category (exact for slice sizes up to ~3·10⁸ rows —
    the numerator is (o·n)²·10³; beyond that, render coarser). The
    total χ² is the plain sum of the per-category rows.

    Scale shape: ONE (category, slice) aggregation collapses the data
    to the bounded category table; slice totals re-derive from it via
    a broadcast; everything after is category-cardinality-sized. No
    second scan, no collects.

    Returns (category, n_before, n_after, contrib_milli).
    """
    # bounded (category cardinality); shared so the slice totals
    # re-derive from it instead of re-scanning the data (the
    # chi_square_assoc idiom)
    cells = shared(
        df.select(
            F.col(category_col).alias("category"),
            F.when(after_pred, 1).otherwise(0).alias("a"),
        )
        .groupBy("category")
        .agg(
            F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("n_before"),
            F.sum("a").cast("bigint").alias("n_after"),
        )
    )
    totals = F.broadcast(
        cells.agg(
            F.sum("n_before").cast("bigint").alias("nb"),
            F.sum("n_after").cast("bigint").alias("na"),
        )
    )
    return cells.crossJoin(totals).select(
        "category",
        "n_before",
        "n_after",
        F.expr(
            "CAST(CASE WHEN na = 0 OR nb = 0"
            " OR n_before + n_after = 0 THEN NULL ELSE"
            " (CAST(n_after AS DECIMAL(38,0)) * nb"
            "  - CAST(n_before AS DECIMAL(38,0)) * na)"
            " * (CAST(n_after AS DECIMAL(38,0)) * nb"
            "    - CAST(n_before AS DECIMAL(38,0)) * na)"
            " * 1000"
            " div (CAST(na AS DECIMAL(38,0)) * nb * (n_before + n_after))"
            " END AS BIGINT)"
        ).alias("contrib_milli"),
    )


def concentration_topn(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_micro,
    top_n: int = 10,
) -> DataFrame:
    """Per-group top-N concentration: what ppm of the group's total
    measure is held by its N largest members (the CRx ratio from
    market-concentration analysis — the curve point gini_concentration
    collapses into a single coefficient). Corpus use: how much of a
    source's token mass sits in its 10 biggest documents.

    Scale shape — the rank-kit single-Exchange idiom: rank (value desc,
    id) and the keyed aggregation share ONE partitioning; the top-N sum
    is a conditional aggregate on the rank, never a join back. Sums
    ride DECIMAL(38,0); the share is one cross-multiplied floor
    division at the end (ppm exact, no float).

    Returns (key, n, topn_value, total_value, topn_share_ppm).
    """
    base = df.select(
        F.col(key_col),
        F.col(id_col).alias("__id"),
        value_micro.cast("decimal(38,0)").alias("__x"),
    ).filter(F.col("__x").isNotNull())
    w = Window.partitionBy(key_col).orderBy(
        F.col("__x").desc(), F.col("__id").asc()
    )
    ranked = base.select(
        F.col(key_col),
        "__x",
        F.row_number().over(w).cast("bigint").alias("__rn"),
    )
    return (
        ranked.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("__rn") <= top_n, F.col("__x"))).alias("__top"),
            F.sum("__x").alias("__tot"),
        )
        .select(
            F.col(key_col).alias("key"),
            "n",
            F.col("__top").cast("bigint").alias("topn_value"),
            F.col("__tot").cast("bigint").alias("total_value"),
            F.expr(
                "CAST(CASE WHEN __tot <= 0 THEN NULL ELSE"
                " (__top * 1000000) div __tot END AS BIGINT)"
            ).alias("topn_share_ppm"),
        )
    )


def mode_group(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tie-break (highest count,
    then smallest value) — ANSI SQL has no mode(); engines that ship
    one (DuckDB's mode()) leave ties implementation-defined, which is
    exactly the nondeterminism class the determinism screen hunts. So
    the tie policy is explicit and the oracle mirrors it with a window,
    not a native mode().

    Scale shape: one (key, value) hash agg with map-side partials, then
    a rank window over the AGGREGATED rows (bounded by distinct pairs,
    not data) on the same key. NULL values are excluded (a mode of
    'missing' is a data-quality signal, not a mode — dq_check covers
    null rates).

    Returns (key, mode_value, mode_n, n_distinct_values).
    """
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(key_col, value_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col("__n").desc(), F.col(value_col).asc()
    )
    wp = Window.partitionBy(key_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_distinct_values", F.count(F.lit(1)).over(wp).cast("bigint")
        )
        .filter(F.col("__rn") == 1)
        .select(
            F.col(key_col).alias("key"),
            F.col(value_col).alias("mode_value"),
            F.col("__n").alias("mode_n"),
            "n_distinct_values",
        )
    )


def fk_orphan_audit(
    fact: DataFrame,
    dims: list[tuple[str, DataFrame, str]],
    fact_name: str,
) -> DataFrame:
    """Referential-integrity audit over a star schema: for each declared
    FK edge (fact.fk_col → dim.pk_col), count fact rows whose key is
    NULL and rows whose non-null key has no dim match (orphans) — the
    pre-flight a pipeline runs before trusting its joins (a silent
    orphan becomes silent row loss in every downstream inner join).

    ``dims`` is [(fk_col, dim_df, dim_pk_col), ...].

    Scale shape (r11): ONE pass over the fact for ALL edges — the old
    per-edge form ran a count aggregate AND a broadcast anti join per
    edge, i.e. 2·K full fact scans. Now every dim's distinct keys
    enter as a broadcast LEFT join attaching a hit marker (dims are
    broadcast-sized by star-schema assumption, the repo-wide regime;
    keys are distinct so the join cannot multiply fact rows), one
    conditional aggregate computes all 2K+1 counters map-side, and a
    ``stack`` unpivots the single counter row into the per-edge output
    — K broadcast hash joins, ZERO shuffles of the fact, one scan.
    Output is one row per edge — bounded by the schema, never by data.

    Returns (fact, fk_col, n_rows, n_null_fk, n_orphan).
    """
    spark = fact.sparkSession
    if not dims:
        return spark.createDataFrame(
            [],
            "fact string, fk_col string, n_rows bigint,"
            " n_null_fk bigint, n_orphan bigint",
        )
    probe = fact.select(*[fk for fk, _, _ in dims])
    for i, (fk_col, dim, pk_col) in enumerate(dims):
        probe = probe.join(
            F.broadcast(
                dim.select(F.col(pk_col).alias(f"__pk{i}"))
                .distinct()
                .withColumn(f"__hit{i}", F.lit(1))
            ),
            F.col(fk_col) == F.col(f"__pk{i}"),
            "left",
        )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for i, (fk_col, _, _) in enumerate(dims):
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(fk_col).isNull(), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"__null{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(fk_col).isNotNull()
                        & F.col(f"__hit{i}").isNull(),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"__orph{i}")
        )
    counters = probe.agg(*aggs)
    stack_args = ", ".join(
        f"'{fk_col}', __null{i}, __orph{i}"
        for i, (fk_col, _, _) in enumerate(dims)
    )
    return counters.select(
        F.lit(fact_name).alias("fact"),
        F.expr(
            f"stack({len(dims)}, {stack_args})"
            " AS (fk_col, n_null_fk, n_orphan)"
        ),
        "n_rows",
    ).select("fact", "fk_col", "n_rows", "n_null_fk", "n_orphan")


def rare_category_collapse(
    df: DataFrame,
    cat_col: str,
    min_n: int = 100,
    other_label: str = "__other__",
) -> DataFrame:
    """Long-tail category collapse: categories below ``min_n`` rows are
    folded into one ``__other__`` bucket and the resulting (bounded)
    category table is returned with before/after accounting — the
    feature-engineering step before one-hot/target encoding (a
    10M-value id-like column becomes head categories + one tail
    bucket) and the cheapest high-cardinality-column guard a pipeline
    has.

    Scale shape: ONE category-keyed count (the only data-sized
    shuffle), then a constant-keyed rollup OVER THE COUNTS frame
    (vocabulary-sized, not data-sized) for the tail bucket. No join
    back to the fact — the output IS the encoder's lookup table
    (broadcastable by construction: ≤ head size + 1 rows).

    Returns (category, n_rows, n_source_categories) where collapsed
    tail rows carry ``other_label`` and n_source_categories counts how
    many raw categories folded in (1 for head rows).
    """
    counts = (
        df.select(F.coalesce(F.col(cat_col), F.lit("")).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    return (
        counts.select(
            F.when(F.col("n_rows") >= min_n, F.col("category"))
            .otherwise(F.lit(other_label))
            .alias("category"),
            "n_rows",
        )
        .groupBy("category")
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_source_categories"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    group_col: str,
    customer_col: str,
    ts_col: str,
    amount_micro,
    n_bins: int = 5,
) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary), grouped: per
    group, every customer is quintiled on each of the three classic
    dimensions and the output is the segment contingency table — the
    marketing-analytics workhorse ("my 5-5-5s" vs "my 1-1-1s") and a
    three-rank-windows-on-one-Exchange exercise of the repo's exact
    integer quantile discipline (same formula as decile_migration:
    ((rank − 1)·bins) div n + 1 on bigint ranks, ties broken by
    customer id — no ntile(), whose remainder placement is
    implementation-defined).

    Scale shape: one (group, customer) aggregation collapses the facts;
    all THREE rank windows and the final segment count share that one
    group-keyed Exchange (different sort orders = extra Sorts, zero
    extra shuffles). Output is bounded by groups × bins³. Recency ranks
    ascending on epoch-day (oldest = bin 1), so bin n_bins is always
    "most recent / most frequent / highest value".

    Returns (group, r_bin, f_bin, m_bin, n_customers).
    """
    per_cust = (
        orders.select(
            F.col(group_col).alias("__g"),
            F.col(customer_col).alias("__c"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP))"
                " div 86400000000"
            ).alias("__day"),
            amount_micro.cast("decimal(38,0)").alias("__amt"),
        )
        .filter(F.col("__c").isNotNull())
        .groupBy("__g", "__c")
        .agg(
            F.max("__day").cast("bigint").alias("__rec"),
            F.count(F.lit(1)).cast("bigint").alias("__frq"),
            F.sum("__amt").cast("decimal(38,0)").alias("__mon"),
        )
    )
    wn = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wr = Window.partitionBy("__g").orderBy("__rec", "__c")
    wf = Window.partitionBy("__g").orderBy("__frq", "__c")
    wm = Window.partitionBy("__g").orderBy("__mon", "__c")
    ranked = per_cust.select(
        "__g",
        F.row_number().over(wr).cast("bigint").alias("__rr"),
        F.row_number().over(wf).cast("bigint").alias("__rf"),
        F.row_number().over(wm).cast("bigint").alias("__rm"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("__n"),
    )
    seg = lambda r: F.expr(
        f"CAST((({r} - 1) * {n_bins}) div __n AS INT) + 1"
    )
    return (
        ranked.select(
            F.col("__g").alias("group"),
            seg("__rr").alias("r_bin"),
            seg("__rf").alias("f_bin"),
            seg("__rm").alias("m_bin"),
        )
        .groupBy("group", "r_bin", "f_bin", "m_bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


def audience_overlap(
    df: DataFrame,
    entity_col: str,
    group_col: str,
    max_groups: int = 1024,
) -> DataFrame:
    """Audience-overlap matrix: for every PAIR of groups (event types,
    segments, channels), how many entities are active in BOTH — the
    exact co-membership matrix behind "do purchasers also view" /
    channel-cannibalization questions. Diagonal cells carry each
    group's audience size, so Jaccard or lift is one arithmetic step
    downstream.

    Scale shape: ONE entity-keyed aggregation collapses the data to
    one row per entity carrying its distinct-group SET (bounded by the
    group vocabulary — the same bounded-collect_set contract as
    split_leakage_audit); pair generation explodes combinations WITHIN
    that bounded array (map-side, ≤ groups² per entity); the final
    count is bounded by groups². No entity-level self-join — the naive
    formulation shuffles the fact table against itself; this shuffles
    it once.

    The bounded-vocabulary contract is ENFORCED, not trusted (the
    top_percentile_filter stance): an entity whose distinct-group set
    exceeds ``max_groups`` would silently turn the map-side pair
    explode quadratic in a data-sized domain (a caller passing a
    user-id as ``group_col`` gets an abort, not a 10¹²-row shuffle) —
    an in-plan ``raise_error`` branch on the per-entity set size aborts
    the job, costing nothing on the happy path.

    Returns (group_a, group_b, n_entities) for a <= b, sorted groups.
    """
    sets = (
        df.select(
            F.col(entity_col).alias("__e"),
            F.col(group_col).alias("__g"),
        )
        .filter(F.col("__e").isNotNull() & F.col("__g").isNotNull())
        .groupBy("__e")
        .agg(F.array_sort(F.collect_set("__g")).alias("__gs"))
        .withColumn(
            "__gs",
            F.when(
                F.size("__gs") <= max_groups, F.col("__gs")
            ).otherwise(
                F.raise_error(
                    F.format_string(
                        "audience_overlap: entity has %d distinct"
                        f" groups (> max_groups={max_groups});"
                        " the group column is not a bounded vocabulary"
                        " — bucketize it or raise max_groups",
                        F.size("__gs"),
                    )
                )
            ),
        )
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                # all (i <= j) combinations of the bounded sorted set
                "flatten(transform(__gs, (a, i) ->"
                " transform(slice(__gs, i + 1, size(__gs) - i),"
                " b -> struct(a AS ga, b AS gb))))"
            )
        ).alias("__p")
    )
    return (
        pairs.groupBy(
            F.col("__p.ga").alias("group_a"),
            F.col("__p.gb").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
    )


def json_key_profile(
    df: DataFrame,
    json_col: str,
) -> DataFrame:
    """Schema profile of a semi-structured JSON column: which keys
    occur, how often, and the spread of their (stringified) values —
    the first thing a pipeline does with an uncontracted ``props``
    blob before promoting fields to real columns (a key present in
    0.1% of rows is a client bug, not a schema field; a key with one
    distinct value is a constant to fold).

    Scale shape: the JSON parses ONCE per row into a string map
    (map-side, JVM from_json — no Python); keys explode bounded by the
    per-row key count; ONE key-keyed aggregation — output is
    key-vocabulary-sized. min/max are lexicographic on the string
    rendering (portable; numeric profiling of a promoted key belongs
    to the typed profilers).

    Returns (key, n_rows, n_distinct_values, min_value, max_value).
    """
    kv = df.select(
        F.explode(
            F.from_json(F.col(json_col), "map<string,string>")
        ).alias("key", "value")
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("value").cast("bigint").alias(
            "n_distinct_values"
        ),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def nzv_audit(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Near-zero-variance feature audit: per column, the distinct-value
    count and the modal value's share — the screening that drops
    constant and quasi-constant features before encoding (a column
    that is one value in 99.9% of rows carries no signal but costs a
    one-hot dimension; the caret-style nearZeroVar check). Columns
    must render portably as strings (integrals/strings — float
    rendering is engine-specific, bucketize those first).

    Scale shape: one stack() long-form projection (map-side), ONE
    (col, value) count, then a column-keyed argmax over the
    vocabulary-sized frame via the exact MIN(struct(−n, value)) idiom
    — two stacked aggregations, output bounded by len(cols).

    Returns (col_name, n_rows, n_distinct, mode_value, mode_share_ppm).
    """
    stack_args = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in cols
    )
    long = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) as (col_name, val)")
    )
    counts = long.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    return (
        counts.groupBy("col_name")
        .agg(
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.min(
                F.struct((-F.col("__n")).alias("nn"), F.col("val"))
            ).alias("__best"),
        )
        .select(
            "col_name",
            "n_rows",
            "n_distinct",
            F.col("__best.val").alias("mode_value"),
            F.expr(
                "CAST((-__best.nn) * 1000000 DIV n_rows AS BIGINT)"
            ).alias("mode_share_ppm"),
        )
    )
