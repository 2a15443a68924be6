"""Association / co-occurrence analytics over basket-shaped data.

The reference's analytics layer stops at grouped aggregates; a
training-data platform also wants co-occurrence statistics (domain ×
source mixes, tag affinities, co-purchase graphs). The market-basket
pair miner here is the classic distributed formulation: one in-basket
self-join bounded by a basket-size guard, never an Apriori candidate
explosion.

Determinism: support counts are exact integers and lift is emitted in
integer parts-per-million (floor division), so results hash identically
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared


def itemset_pairs(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    min_support: int = 2,
    max_basket: int = 64,
) -> DataFrame:
    """Frequent item PAIRS with support and integer-ppm lift — the
    2-itemset core of market-basket analysis (Agrawal & Srikant's
    Apriori restricted to k=2, which is the distributed-join-friendly
    regime; higher k grows combinatorially for marginal signal).

    Plan: distinct (basket, item) → basket-size guard (baskets larger
    than ``max_basket`` are dropped via anti-join, the same hot-key
    discipline as the dedup blockers: pair generation is bounded by
    ``max_basket``² per basket, never O(n²) in basket size) → one
    self-equi-join on the basket id with ``item_1 < item_2`` → one
    count aggregation. Per-item supports ride in on two broadcastable
    item-keyed joins; the total-basket scalar arrives via a broadcast
    join of the ONE-ROW count aggregate (never a data-sized collect or
    window).

    lift_ppm = floor(1e6 · n_pair · n_baskets / (n_1 · n_2)) — >1e6
    means positive association; exact in int64 for corpora up to ~1e12
    basket-pairs.

    Returns (item_1, item_2, n_pair, n_1, n_2, lift_ppm),
    n_pair >= min_support.
    """
    # bi feeds the size guard AND the anti-join probe; guarded feeds the
    # per-item supports, the basket count, and BOTH self-join sides —
    # without sharing every consumer re-scans the source (measured: 20
    # lineitem scans in one assoc_rules plan; see operators/sharing.py)
    bi = shared(
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        ).distinct()
    )
    sizes = bi.groupBy("bk").agg(F.count(F.lit(1)).alias("n_items"))
    hot = sizes.filter(F.col("n_items") > max_basket).select("bk")
    guarded = shared(bi.join(hot, "bk", "left_anti"))
    item_n = guarded.groupBy(F.col("it")).agg(F.count(F.lit(1)).alias("n_it"))
    n_baskets = (
        guarded.select("bk")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        # one row — the unpartitioned window is over a single row, not data
        .withColumn("__one", F.lit(1))
    )
    pairs = (
        guarded.select("bk", F.col("it").alias("item_1"))
        .join(guarded.select("bk", F.col("it").alias("item_2")), "bk")
        .filter(F.col("item_1") < F.col("item_2"))
        .groupBy("item_1", "item_2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_support)
    )
    out = (
        pairs.join(
            item_n.select(F.col("it").alias("item_1"), F.col("n_it").alias("n_1")),
            "item_1",
        )
        .join(
            item_n.select(F.col("it").alias("item_2"), F.col("n_it").alias("n_2")),
            "item_2",
        )
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(n_baskets), "__one")
        .drop("__one")
    )
    return out.select(
        "item_1",
        "item_2",
        "n_pair",
        "n_1",
        "n_2",
        F.expr("(1000000 * n_pair * n_baskets) div (n_1 * n_2)")
        .cast("bigint")
        .alias("lift_ppm"),
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    min_support: int = 2,
    min_confidence_ppm: int = 0,
    max_basket: int = 64,
) -> DataFrame:
    """Directed association rules a → b from the frequent pairs:
    confidence_ppm = floor(1e6 · n_pair / n_a) (how often baskets with
    ``a`` also contain ``b``), plus the symmetric lift. Each unordered
    pair yields BOTH directions — confidence is the asymmetric signal
    the pair miner alone can't express (bread → butter ≠ butter →
    bread).

    Cost on top of ``itemset_pairs`` is one projection (the two
    directions come from relabeling the already-joined supports — no
    extra join, no extra shuffle). All integer ppm, exact cross-engine.

    Returns (antecedent, consequent, n_pair, n_ante, n_cons,
    confidence_ppm, lift_ppm), confidence_ppm >= min_confidence_ppm.
    """
    pairs = itemset_pairs(
        baskets, basket_col, item_col, min_support, max_basket
    )
    fwd = pairs.select(
        F.col("item_1").alias("antecedent"),
        F.col("item_2").alias("consequent"),
        "n_pair",
        F.col("n_1").alias("n_ante"),
        F.col("n_2").alias("n_cons"),
        "lift_ppm",
    )
    rev = pairs.select(
        F.col("item_2").alias("antecedent"),
        F.col("item_1").alias("consequent"),
        "n_pair",
        F.col("n_2").alias("n_ante"),
        F.col("n_1").alias("n_cons"),
        "lift_ppm",
    )
    return (
        fwd.unionByName(rev)
        .withColumn(
            "confidence_ppm",
            F.expr("(1000000 * n_pair) div n_ante").cast("bigint"),
        )
        .filter(F.col("confidence_ppm") >= min_confidence_ppm)
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            "n_ante",
            "n_cons",
            "confidence_ppm",
            "lift_ppm",
        )
    )
