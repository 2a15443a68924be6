"""Similarity search over embedding columns (array<float>).

Two paths:
- ``cosine_topk``     — exact brute force: the correctness baseline.
- ``lsh_topk``        — random-hyperplane LSH buckets: the scale path
                        (candidates only from matching buckets).
- ``ivf_topk``        — IVF-style coarse quantization against a centroid
                        table: probe the closest n_probe cells only.

All math is higher-order functions over double-cast arrays (zip_with +
aggregate): JVM-evaluated, sequential summation order → deterministic and
engine-comparable.

Scale: brute force is O(Q×N) — fine when Q (queries) is small or N fits a
broadcast; LSH/IVF cut N to bucket size. At 100 TB the index side stays
partitioned by bucket/cell id so each query only shuffles to its buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared


def _dvec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Pre-normalizes both sides (norm computed once per vector, map-side)
    then broadcasts the query set: the big index side never shuffles.
    Scores are floor(cos × 1e6) with id tiebreak for total determinism.
    Returns (query_id, neighbor_id, score_ppm, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    ix = index.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("iv")
    ).withColumn("inorm", norm(F.col("iv")))
    scored = (
        ix.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score_ppm",
            F.floor(
                dot(F.col("qv"), F.col("iv"))
                / (F.col("qn") * F.col("inorm"))
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_ppm", "rank")
    )


def hyperplane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 plane matrix: component (p, d) is the parity of
    md5(f"{p}:{d}") — computed once in Python and inlined as literals in
    BOTH the Spark plan and the DuckDB oracle SQL, so the bucket
    assignment is engine-independent by construction."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{p}:{d}".encode()).digest()[-1] & 1 else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signature(vec: Column, n_planes: int = 16, dim: int = 64) -> Column:
    """Random-hyperplane LSH signature as an n_planes-bit int.

    sign(v · plane_p) gives bit p; planes are literal ±1 arrays (see
    ``hyperplane_signs``), so the per-plane dot is a zip_with/aggregate
    fold over constants — JVM-evaluated, no shuffle, no stored matrix."""
    signs = hyperplane_signs(n_planes, dim)
    sig = F.lit(0).cast("bigint")
    for p in range(n_planes):
        plane = F.array(*[F.lit(s) for s in signs[p]])
        pd = dot(vec, plane)
        sig = sig + F.when(pd > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return sig


def lsh_topk(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane-LSH bucket, exact
    cosine re-rank within. Recall < 1 by design; the bucket join replaces
    the cross join — this is what scales."""
    q = (
        queries.select(F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv"))
        .withColumn("bucket", hyperplane_signature(F.col("qv"), n_planes, dim))
        .withColumn("qn", norm(F.col("qv")))
    )
    ix = (
        index.select(F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("iv"))
        .withColumn("bucket", hyperplane_signature(F.col("iv"), n_planes, dim))
        .withColumn("inorm", norm(F.col("iv")))
    )
    scored = (
        ix.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score_ppm",
            F.floor(
                dot(F.col("qv"), F.col("iv"))
                / (F.col("qn") * F.col("inorm"))
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_ppm", "rank")
    )


def ivf_topk(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style search with a precomputed coarse partition (here the
    ``label`` column plays the centroid-assignment role): each query probes
    only its own cell. At scale the index is written partitioned by cell,
    so a probe is a partition-pruned scan."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(vec_col).alias("qv"),
        F.col(label_col).alias("cell"),
    ).withColumn("qn", norm(F.col("qv")))
    ix = index.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(vec_col).alias("iv"),
        F.col(label_col).alias("cell"),
    ).withColumn("inorm", norm(F.col("iv")))
    scored = (
        ix.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score_ppm",
            F.floor(
                dot(F.col("qv"), F.col("iv"))
                / (F.col("qn") * F.col("inorm"))
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "score_ppm", "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    min_ppm: int = 950000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks: (id_a, id_b,
    score_ppm) with id_a < id_b and cosine ≥ min_ppm/1e6. The block join
    bounds the pair space (blocking key = coarse cluster / LSH bucket)."""
    v = vectors.select(
        F.col(id_col).alias("id"), _dvec(vec_col).alias("v"), F.col(block_col).alias("blk")
    ).withColumn("nrm", norm(F.col("v")))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "blk")
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score_ppm",
            F.floor(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) * F.lit(1000000.0)
            ).cast("bigint"),
        )
        .filter(F.col("score_ppm") >= min_ppm)
        .select("id_a", "id_b", "score_ppm")
    )


#: Above this k the assignment switches from the from_json plan literal
#: (O(k×dim) plan bytes — fine for small k, degenerate at SemDeDup's
#: k=⌈√n⌉ regime) to a broadcast centroid-table hash join.
KMEANS_BROADCAST_K = 256


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "auto",
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Deterministic distributed k-means: fixed iteration count, exact
    cross-engine semantics (DuckDB oracle in catalog/similarity.py).

    Two determinism rules make an FP-iterative algorithm hash-stable:
    - **init**: centroids are the first ``k`` vectors by id — no RNG;
    - **centroid update in DECIMAL**: float sums depend on accumulation
      order (partition order in Spark, row order in DuckDB), so means are
      computed over ``decimal(28,9)`` casts — exact, order-independent —
      then divided at fixed scale. Distances use the resulting identical
      doubles, summed in array-index order on both engines.

    Assignment ties break toward the lower centroid id. Scale: each
    iteration is one broadcast of k×dim centroids + a map-side argmin +
    one (cid, dim-position) aggregation — no cross join materializes.
    Returns (final centroids as a driver-side [(cid, vector)] list —
    k×dim scalar-scale — and the final (id_col, cid) assignment frame).
    """
    dim_df = embeddings.select(F.size(_dvec(vec_col)).alias("d")).limit(1)
    dim = dim_df.collect()[0]["d"]

    vecs = embeddings.select(
        F.col(id_col).alias("id"), _dvec(vec_col).alias("v")
    )
    centroids = (
        vecs.orderBy("id")
        .limit(k)
        .select(F.col("id"), "v")
        .collect()
    )
    # cid = rank of the seed vector among the first k, 0-based
    cents = [(i, [float(x) for x in row["v"]]) for i, row in enumerate(centroids)]


    def _scored(cents_col):
        # per-candidate struct(d, cid): squared L2 summed in array-index
        # order (deterministic, engine-comparable); struct compare is
        # lexicographic → (dist asc, cid asc) everywhere it's ordered
        return F.transform(
            cents_col,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"), c["cv"], lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                c["cid"].alias("cid"),
            ),
        )

    def assign_literal(cents_local):
        # Argmin semantics: dist asc, ties to the lower cid — identical
        # to the oracle's ROW_NUMBER(ORDER BY dist, cid).
        #
        # The centroids enter the plan as ONE from_json string literal
        # that ConstantFolding collapses into a single array value at
        # optimization time — O(1) plan/codegen size in k (k per-element
        # literals measured 75s of pure compilation at k=100;
        # dedup_semantic sf0.1 warm 11.5s → 5.1s on this path), no join,
        # no shuffle: the per-row argmin is transform → array_sort over
        # the folded constant. JSON round-trips binary64 exactly
        # (repr-based dumps → Double.parseDouble).
        #
        # (History of rejected shapes: a per-centroid when-chain copies
        # the running best twice per step — O(2^k) Catalyst nodes,
        # driver OOM near k=25; a 1-row broadcast side-table degenerates
        # to BroadcastNestedLoopJoin once the constant key folds.)
        import json

        cents_json = json.dumps(
            [{"cid": cid, "cv": [float(x) for x in cvec]}
             for cid, cvec in cents_local]
        )
        cents_col = F.from_json(
            F.lit(cents_json), "array<struct<cid: int, cv: array<double>>>"
        )
        return vecs.select(
            "id", "v", F.array_sort(_scored(cents_col))[0]["cid"].alias("cid")
        )

    def assign_broadcast(cents_local):
        # Large-k path: the from_json literal is O(k×dim) plan BYTES —
        # serialized, re-parsed, and constant-folded on every executor
        # task setup; at SemDeDup's own k=⌈√n⌉ regime (k≈31k for n=1e9)
        # that's a ~16 MB string inside the plan. Here the centroids ride
        # a BROADCAST table instead (shipped once per executor via the
        # torrent broadcast, never in the plan):
        #   - centroids are packed into G = ⌈k/256⌉ rows of
        #     array<struct<cid,cv>> keyed by a group id g;
        #   - the vector side explodes ×G over sequence(0, G-1) — a
        #     non-constant, multi-valued key, so the join stays a
        #     BroadcastHashJoin (the documented trap: a single-row /
        #     constant-key build side constant-folds the key and
        #     degenerates to BroadcastNestedLoopJoin — G ≥ 2 rows with
        #     a real column key avoids it; plan-pinned);
        #   - per joined row, best-of-group via the same struct compare;
        #   - global argmin = min(struct(d, cid)) groupBy id. Each id's
        #     G rows are co-partitioned (narrow explode), so the partial
        #     aggregation collapses them map-side — the exchange carries
        #     ~n rows, not n×G.
        # Bit-identical to the literal path: same squared-L2 expression,
        # same binary64 doubles (repr() is the shortest exact round-trip
        # of the double; the D suffix keeps the literal DoubleType), same
        # (d asc, cid asc) total order. Rendered as a VALUES LocalRelation
        # rather than createDataFrame so no PythonRunner stage (and no
        # per-core Python worker fork) lands inside the assignment query.
        spark = embeddings.sparkSession
        kk = len(cents_local)
        n_groups = max(2, -(-kk // 256))  # ⌈k/256⌉, ≥2 (no constant key)
        packed: dict[int, list] = {}
        for idx, (cid, cvec) in enumerate(cents_local):
            packed.setdefault(idx % n_groups, []).append(
                (int(cid), [float(x) for x in cvec])
            )

        def _grp(cs: list) -> str:
            return "array(" + ", ".join(
                f"named_struct('cid', CAST({cid} AS INT), 'cv', array("
                + ", ".join(repr(x) + "D" for x in cv)
                + "))"
                for cid, cv in cs
            ) + ")"

        body = ", ".join(
            f"(CAST({g} AS INT), {_grp(cs)})" for g, cs in packed.items()
        )
        build = spark.sql(
            f"SELECT __c0 AS g, __c1 AS cs FROM (VALUES {body}) AS T(__c0, __c1)"
        )
        exploded = vecs.select(
            "id",
            "v",
            F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("g"),
        )
        per_group = exploded.join(F.broadcast(build), "g").select(
            "id", "v", F.array_sort(_scored(F.col("cs")))[0].alias("best")
        )
        return (
            per_group.groupBy("id")
            .agg(F.min("best").alias("b"), F.first("v").alias("v"))
            .select("id", "v", F.col("b.cid").alias("cid"))
        )

    def assign(cents_local):
        if assign_method == "broadcast" or (
            assign_method == "auto" and len(cents_local) > KMEANS_BROADCAST_K
        ):
            return assign_broadcast(cents_local)
        return assign_literal(cents_local)

    for _ in range(iterations):
        assigned = assign(cents)
        # order-independent mean per (cid, dimension): decimal(28,9) sum
        # (exact, any accumulation order) → nano-unit integer → floor
        # division via pmod (engine-consistent for negatives; DuckDB's
        # decimal division would degrade to DOUBLE)
        s_nano = (
            F.sum(F.col("x").cast("decimal(28,9)")) * F.lit(1_000_000_000)
        ).cast("long")
        n = F.count(F.lit(1))
        # integer floor division (`div`), not double `/` then cast: the
        # double path loses exactness once the dividend exceeds 2^53,
        # silently diverging from the oracle's integer `//`
        means = (
            assigned.select(
                "cid", F.posexplode(F.col("v")).alias("pos", "x")
            )
            .groupBy("cid", "pos")
            .agg(s_nano.alias("s_nano"), n.alias("n"))
            .select(
                "cid",
                "pos",
                F.expr("(s_nano - pmod(s_nano, n)) div n").alias("m_nano"),
            )
            .collect()
        )
        by_cid: dict[int, list] = {}
        for r in means:
            by_cid.setdefault(r["cid"], [None] * dim)[r["pos"]] = (
                r["m_nano"] / 1e9
            )
        cents = [(cid, by_cid[cid]) for cid, _ in cents if cid in by_cid]

    assigned = assign(cents).select(
        F.col("id").alias(id_col), F.col("cid").cast("int").alias("cid")
    )
    return cents, assigned


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_method: str = "auto",
) -> DataFrame:
    """Final (id, cid) assignment of the deterministic Lloyd loop
    (see kmeans_fit)."""
    _, assigned = kmeans_fit(
        embeddings, k, iterations, id_col, vec_col, assign_method
    )
    return assigned


def ivf_trained_topk(
    index: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 4,
    n_probe: int = 2,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with TRAINED cells: coarse-quantize the index with the
    deterministic k-means (kmeans_fit), then each query probes its
    ``n_probe`` nearest centroids and re-ranks exactly inside those cells
    only.

    This is the full IVF recipe (train → assign → multi-probe) rather
    than ivf_topk's precomputed-partition shortcut. Scale: centroids are
    k×dim driver-side literals (broadcast by value into the plan); the
    index carries its cell id — written partitioned by cell, a probe is a
    partition-pruned scan; the query side explodes ×n_probe only.

    Returns (query_id, neighbor_id, score_ppm, rank) — same contract as
    the other top-k operators.
    """
    cents, assigned = kmeans_fit(index, n_cells, iterations, id_col, vec_col)

    def sqdist(vec: Column, cvec: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in cvec]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # nearest n_probe centroids via array_sort over (distance, cid)
    # structs — lexicographic struct order = d asc, cid asc tiebreak
    cand_cells = F.slice(
        F.array_sort(
            F.array(*[
                F.struct(
                    sqdist(F.col("qv"), cvec).alias("d"),
                    F.lit(cid).cast("int").alias("cid"),
                )
                for cid, cvec in cents
            ])
        ),
        1,
        n_probe,
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("probe", F.explode(cand_cells))
        .select("query_id", "qv", "qn", F.col("probe.cid").alias("cell"))
    )
    ix = (
        index.select(F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("iv"))
        .join(
            assigned.select(
                F.col(id_col).alias("neighbor_id"), F.col("cid").alias("cell")
            ),
            "neighbor_id",
        )
        .withColumn("inorm", norm(F.col("iv")))
    )
    scored = (
        ix.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score_ppm",
            F.floor(
                dot(F.col("qv"), F.col("iv"))
                / (F.col("qn") * F.col("inorm"))
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_ppm", "rank")
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_ppm: int = 950000,
    assign_method: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, compare
    cosine similarity ONLY within clusters, and mark every vector that
    has a smaller-id in-cluster neighbor above the threshold as removed.

    The clustering is the blocking structure: pair candidates are
    O(sum of cluster sizes squared), not O(N^2) — at corpus scale k is
    chosen so clusters stay bounded (SemDeDup uses k in the tens of
    thousands for billions of docs). Determinism: the k-means is the
    exact-arithmetic Lloyd loop from kmeans_fit (no RNG, decimal means),
    removal is "any smaller-id neighbor" — order-free, oracle-checkable.

    Returns (``id_col``, cid, removed).
    """
    _, assigned = kmeans_fit(
        embeddings, k, iterations, id_col, vec_col, assign_method
    )
    # the final assignment feeds the labeled join AND the removed-flag
    # join; the labeled frame feeds BOTH sides of the in-cluster pair
    # self-join — without sharing, the whole argmin assignment re-runs
    # per consumer (measured: 5 embeddings scans per dedup_semantic plan)
    assigned = shared(assigned)
    labeled = shared(
        embeddings.select(id_col, vec_col).join(assigned, id_col)
    )
    pairs = embedding_near_dup_pairs(
        labeled, id_col=id_col, vec_col=vec_col, block_col="cid", min_ppm=min_ppm
    )
    removed = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "__rm", F.lit(True)
    )
    return assigned.join(removed, id_col, "left").select(
        id_col, "cid", F.coalesce("__rm", F.lit(False)).alias("removed")
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall of an approximate top-k result against the exact baseline:
    per query, |approx ∩ exact| / |exact| in basis points. The measure-
    don't-guess harness for the ANN family — run it whenever an index
    parameter (cells, probes, planes) changes.

    Semi join + two counts; both inputs are top-k-sized (k × #queries),
    so this costs nothing next to the searches themselves."""
    hits = approx.join(
        exact.select(query_col, neighbor_col), [query_col, neighbor_col], "left_semi"
    )
    n_exact = exact.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_found"))
    return (
        n_exact.join(n_hit, query_col, "left")
        .select(
            query_col,
            "n_exact",
            F.coalesce("n_found", F.lit(0)).alias("n_found"),
            F.floor(
                F.coalesce("n_found", F.lit(0)) * F.lit(10000.0) / F.col("n_exact")
            ).cast("bigint").alias("recall_bp"),
        )
    )


def ivf_index_persist(
    index: DataFrame,
    base_dir: str,
    table_name: str,
    n_cells: int = 4,
    iterations: int = 1,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index ONCE and persist it — the production
    similarity-search shape: at 100 TB the k-means train + assignment
    + norm computation are paid at build time, and every query after
    that reads the saved layout with zero training in its plan.

    Persists two artifacts:
      * ``{base_dir}/centroids`` — the trained centroid table
        (cid, cv array<double>), k rows of plain parquet (broadcast-
        sized by construction);
      * ``table_name`` — the cell-assigned vector table
        (neighbor_id, iv, inorm, cell) written as a BUCKETED parquet
        table on ``cell`` (operators/layout.py::bucketize): the
        probe-time cell join and any per-cell maintenance aggregation
        (cell-size stats, re-balance candidates) plan with no Exchange
        on the index side. Vector norms are precomputed — the serve
        path never touches sqrt over the corpus again.

    Centroid doubles survive the parquet round trip bit-exactly, so a
    persisted-serve result is identical to ivf_trained_topk's inline
    result (property-tested). Incremental-refresh twin note: like
    dedup_minhash_incremental merges a delta's signatures into the
    stored sketch table instead of re-shingling the corpus, a vector
    delta is assigned against the SAVED centroids (one broadcast join)
    and appended to the bucketed layout — retraining is a scheduled
    event, not a per-query cost.

    Returns (centroids_df, cells_df) read back from the persisted
    layout.
    """
    from pdcm_etl_spark.operators.layout import bucketize

    spark = index.sparkSession
    cents, assigned = kmeans_fit(
        index, n_cells, iterations, id_col, vec_col
    )
    cents_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
        "cid int, cv array<double>",
    )
    cents_path = f"{base_dir.rstrip('/')}/centroids"
    cents_df.coalesce(1).write.mode("overwrite").parquet(cents_path)

    vecs = index.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("iv")
    ).withColumn("inorm", norm(F.col("iv")))
    cells = vecs.join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("cid").alias("cell"),
        ),
        "neighbor_id",
    )
    cells_tbl = bucketize(
        cells, "cell", n_buckets, table_name, f"{base_dir.rstrip('/')}/cells"
    )
    return spark.read.parquet(cents_path), cells_tbl


def ivf_persisted_topk(
    centroids: DataFrame,
    cells: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF top-k from a PERSISTED index (ivf_index_persist):
    probe selection joins the query set against the saved centroid
    table (k rows, broadcast — no plan literals, no driver collect),
    then exact re-rank inside the probed cells against the saved
    cell-assigned vectors with their precomputed norms. The plan
    contains two parquet scans and zero k-means artifacts — pinned in
    tests/test_plan_shapes.py (no posexplode, no decimal(28,9)
    centroid-update aggregates).

    Identical semantics to ivf_trained_topk at the same parameters:
    same squared-L2 probe metric in array-index order, same
    (dist asc, cid asc) probe tie-break, same (score desc, id asc)
    result order. The probe table is queries×n_probe rows — broadcast
    on the cell join while the query batch is small; for bulk scoring
    (training-data joins) flip the hint and let the bucketed cell
    layout shuffle-free the index side instead.

    Returns (query_id, neighbor_id, score_ppm, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    qd = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "qv",
        "qn",
        F.col("cid").alias("cell"),
        F.aggregate(
            F.zip_with(
                F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("cell").asc()
    )
    probes = (
        qd.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "qv", "qn", "cell")
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score_ppm",
            F.floor(
                dot(F.col("qv"), F.col("iv"))
                / (F.col("qn") * F.col("inorm"))
                * F.lit(1000000.0)
            ).cast("bigint"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("score_ppm").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_ppm", "rank")
    )


def ivf_delta_assign(
    centroids: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign a DELTA of new vectors against SAVED centroids — the
    incremental refresh of a persisted IVF index (ivf_index_persist):
    like dedup_minhash_incremental merges a day's signatures into the
    stored sketch table instead of re-shingling the corpus, a vector
    delta joins the broadcast centroid table, takes the (dist asc, cid
    asc) argmin per row, and appends to the bucketed cell layout —
    retraining is a scheduled event, never a per-ingest cost.

    One broadcast join (k rows) + a map-side argmin via min(struct) —
    the delta never shuffles on anything but the final append's
    bucketing. Same squared-L2 metric and tie-break as every other
    assignment path, so an appended index serves queries exactly as if
    those vectors had been present at build time (oracle-proven in
    ann_ivf_delta_append).

    Returns (neighbor_id, iv, inorm, cell) — the cell-table schema,
    ready to union/append.
    """
    v = delta.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("iv")
    ).withColumn("inorm", norm(F.col("iv")))
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "neighbor_id",
        "iv",
        "inorm",
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("iv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.col("cid").alias("cid"),
        ).alias("dc"),
    )
    return (
        scored.groupBy("neighbor_id")
        .agg(
            F.first("iv").alias("iv"),
            F.first("inorm").alias("inorm"),
            F.min("dc").alias("best"),
        )
        .select(
            "neighbor_id", "iv", "inorm", F.col("best.cid").alias("cell")
        )
    )
