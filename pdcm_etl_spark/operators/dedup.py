"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design:
- exact dedup is a hash groupBy (one shuffle on the digest — never on the
  full text);
- candidate generation for near-dup is always *bucketed* (shared shingle,
  LSH band, simhash band, or blocking key) so the pair space is bounded by
  bucket size, never O(n²) global;
- verification (exact Jaccard / hamming / cosine) runs only on candidates.

Determinism: md5/xxhash64 digests, floor-basis-point ratios — every output
is reproducible across runs and engines (see the rules in catalog/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (normalized) texts: digest → (keep id, group size).

    Shuffles 16-byte digests + ids only; the text never moves."""
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(digest.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# shingling + n-gram Jaccard
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The split array is materialized into a column *before* the
    higher-order ``transform`` — a lambda that references an outer
    expression re-evaluates it per element (no common-subexpression
    elimination across the lambda boundary), which is a 7× slowdown."""
    ws = F.split(F.lower(F.col(text_col)), " ")
    pre = df.select(F.col(id_col).alias("id"), ws.alias("ws"))
    grams = F.when(
        F.size("ws") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - F.lit(n - 1)),
            lambda i: F.array_join(F.slice("ws", i, n), " "),
        ),
    ).otherwise(F.array())
    return pre.select("id", F.explode(F.array_distinct(grams)).alias("shingle"))


def jaccard_pairs(
    sh: DataFrame, min_bp: int = 2000, max_shingle_freq: int | None = 1000
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over shingle sets.

    Candidates = pairs sharing ≥1 shingle (bucket join on the shingle).
    ``max_shingle_freq`` drops ultra-common shingles before pairing — the
    classic stop-shingle guard that keeps bucket sizes bounded at scale
    (a shingle occurring in k docs contributes k² pair candidates).
    Returns (id_a, id_b, inter, jaccard_bp) with id_a < id_b and
    jaccard_bp = floor(10000 * |A∩B| / |A∪B|) ≥ min_bp.
    """
    inter, sizes = _guarded_intersections(sh, max_shingle_freq)
    sz_a, sz_b = _size_sides(sizes)
    jac_bp = F.floor(
        F.col("inter") * F.lit(10000.0) / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    ).cast("bigint")
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("jaccard_bp", jac_bp)
        .filter(F.col("jaccard_bp") >= min_bp)
        .select("id_a", "id_b", "inter", "jaccard_bp")
    )


def _size_sides(sizes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The per-doc size table keyed for each pair endpoint, with the
    join strategy PINNED to shuffle-hash.

    Why pinned: Catalyst's static size estimate of the pair-intersection
    aggregate runs through two Generates (posexplode + tail-explode),
    whose default estimates don't model fan-out — on duplicate-heavy
    data the planner concludes the PAIR FACT table is broadcast-sized
    and builds a BroadcastExchange of it (observed at the sf1 stress
    sweep: 'Cannot broadcast the table that is larger than 8.0 GiB:
    8.7 GiB' — a hard abort, and even below the limit it would ship the
    fact side to every executor). Neither side is reliably small at
    100 TB (pairs ~ dup-ball², sizes ~ corpus), so the scalable plan is
    a shuffled join on the id; SHUFFLE_HASH builds the per-partition
    hash from this (smaller-per-partition) sizes side without sorting
    the pair table."""
    sz_a = sizes.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a")
    ).hint("shuffle_hash")
    sz_b = sizes.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b")
    ).hint("shuffle_hash")
    return sz_a, sz_b


# compute-once sharing for multi-consumer intermediates — see
# operators/sharing.py for the measured rationale (6× corpus re-scan
# per jaccard_pairs call without it)
from pdcm_etl_spark.operators.sharing import shared as _shared  # noqa: E402


def _guarded_intersections(
    sh: DataFrame, max_shingle_freq: int | None
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate-generation core for set-overlap dedup (Jaccard /
    containment): per-pair intersection counts + per-doc set sizes.

    Candidate pairs come from in-bucket generation after a groupBy on
    the shingle. The stop-shingle guard runs BEFORE the posting-list
    collect: a count-only aggregate finds hot shingles (freq > guard)
    and an anti-join drops their rows, so no aggregation buffer ever
    materializes a data-sized array (round-3 advice — filtering
    size(ids) AFTER collect_list bounds the *output*, not the buffer:
    one shingle shared by millions of docs would OOM the executor
    during the collect). The hot set is tiny by construction (only
    shingles above the guard), so AQE broadcasts the anti-join side;
    count aggregation is map-side partial — both scale. No data-sized
    frequency table is ever joined (round-2 verdict item 5: pair
    counting itself needs no frequency side at all).
    """
    if max_shingle_freq is not None:
        # the posting rows feed BOTH the hot-count pass and the anti-join
        # probe side — share them so the corpus is shingled once, not twice
        sh = _shared(sh)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    # consumed by the pair explosion AND both size-side probes (3×) —
    # share, or the whole scan→shingle→guard→collect pipeline re-runs
    # per consumer (measured: 6 corpus scans per jaccard_pairs call)
    buckets = _shared(
        sh.groupBy("shingle").agg(F.collect_list("id").alias("ids"))
    )
    # per-doc shingle-set sizes over the GUARDED shingles (freq-1 buckets
    # included — they contribute to |A| even though they pair nothing)
    sizes = (
        buckets.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # each unordered pair once: element i × the tail after i, canonical
    # (min, max) ordering; bucket size is guard-bounded so the per-row
    # explode is ≤ max_shingle_freq elements
    pair_src = buckets.filter(F.size("ids") >= 2).select(
        F.posexplode("ids").alias("i", "x"), "ids"
    )
    inter = (
        pair_src.select(
            "x",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
            ).alias("y"),
        )
        .select(
            F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, sizes


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS fingerprinter): hash every character k-gram,
    slide a w-window over the hash sequence, keep each window's MINIMUM.
    Guarantee: any substring match of length ≥ k+w-1 between two docs
    contributes at least one SHARED fingerprint, while only ~2/(w+1) of
    the k-gram hashes are kept — position-robust overlap detection
    (insertions shift positions but not the selected minima), where
    word-shingle Jaccard needs token-aligned edits.

    Scale shape: the whole per-doc pipeline — k-gram hashing, window
    minima, dedup — is ARRAY EXPRESSIONS inside whole-stage codegen
    (transform/slice/array_min); the full hash stream never explodes
    into rows and nothing shuffles until the ~n/w selected fingerprints
    post into the pair join. Hashes are portable_hash60 so the DuckDB
    oracle is exact. Docs shorter than one window keep their single
    global minimum (standard winnowing edge rule).

    Returns (id, shingle) posting rows — column-compatible with the
    guarded pair core shared by jaccard/containment.
    """
    hash_expr = (
        f"CASE WHEN length(__t) >= {k} THEN "
        f"transform(sequence(1, length(__t) - {k - 1}), "
        f"i -> CAST(conv(substring(md5(substring(__t, i, {k})), 1, 15), "
        f"16, 10) AS BIGINT)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    # Window minima as a zip_with FOLD over w shifted slices rather than
    # `transform(sequence(...), j -> array_min(slice(__h, j, w)))`: the
    # transform form references __h from inside the position lambda, and
    # once CollapseProject inlines the alias the hash stream is exposed
    # to per-position re-evaluation (the shingles() lambda-boundary
    # rule). zip_with lambdas only touch their element arguments, so the
    # fold caps __h at w inlined evaluations per row by construction.
    # (Profiled at sf0.1 the two forms measure the same — the evaluator
    # appears to cache the alias — but the fold removes the dependence
    # on that unguaranteed behavior.)
    sliced = f"slice(__h, {{off}}, size(__h) - {w - 1})"
    fold = sliced.format(off=1)
    for i in range(1, w):
        fold = (
            f"zip_with({fold}, {sliced.format(off=i + 1)}, "
            f"(x, y) -> least(x, y))"
        )
    fp_expr = (
        f"CASE WHEN size(__h) >= {w} THEN array_distinct({fold}) "
        f"WHEN size(__h) > 0 THEN array(array_min(__h)) "
        f"ELSE __h END"
    )
    return (
        df.selectExpr(f"{id_col} AS id", f"lower({text_col}) AS __t")
        .selectExpr("id", f"{hash_expr} AS __h")
        .selectExpr("id", f"explode({fp_expr}) AS shingle")
    )


def winnow_pairs(
    fps: DataFrame, min_ppm: int = 600_000, max_fp_freq: int | None = 1000
) -> DataFrame:
    """Near-dup pairs over winnowed fingerprints: same guarded in-bucket
    candidate core as jaccard/containment (hot-fingerprint anti-join
    BEFORE the posting-list collect, shuffle-hash-pinned size joins),
    scored by shared-fingerprint coverage of the SMALLER doc in integer
    ppm — the containment-style measure matching winnowing's use case
    (a short doc lifted into a long one).

    Returns (id_a, id_b, inter, overlap_ppm), id_a < id_b,
    overlap_ppm = floor(1e6 · |A∩B| / min(|A|, |B|)) ≥ ``min_ppm``.
    """
    inter, sizes = _guarded_intersections(fps, max_fp_freq)
    sz_a, sz_b = _size_sides(sizes)
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "overlap_ppm",
            F.expr("(1000000 * inter) div least(sz_a, sz_b)").cast("bigint"),
        )
        .filter(F.col("overlap_ppm") >= min_ppm)
        .select("id_a", "id_b", "inter", "overlap_ppm")
    )


def containment_pairs(
    sh: DataFrame, min_ppm: int = 800_000, max_shingle_freq: int | None = 1000
) -> DataFrame:
    """Near-dup pairs by set CONTAINMENT — C(A,B) = |A∩B| / |A| — the
    asymmetric overlap measure that catches a short document embedded
    verbatim inside a long one, which Jaccard scores near zero (the
    union is dominated by the long side). This is the Broder (1997)
    containment companion to resemblance, and the right filter for
    quote/boilerplate inclusion in a training corpus.

    Same guarded in-bucket candidate generation as ``jaccard_pairs``
    (one shingle groupBy, stop-shingle anti-join before the posting-list
    collect, pair explode bounded by the guard). Containment is emitted
    in integer parts-per-million via floor division — exact across
    engines, no float surface.

    Returns (id_a, id_b, inter, cont_a_ppm, cont_b_ppm) with
    id_a < id_b and max(cont_a_ppm, cont_b_ppm) >= min_ppm; cont_a_ppm
    is the share of A's shingles also in B.
    """
    inter, sizes = _guarded_intersections(sh, max_shingle_freq)
    sz_a, sz_b = _size_sides(sizes)
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "cont_a_ppm", F.expr("(1000000 * inter) div sz_a").cast("bigint")
        )
        .withColumn(
            "cont_b_ppm", F.expr("(1000000 * inter) div sz_b").cast("bigint")
        )
        .filter(F.greatest("cont_a_ppm", "cont_b_ppm") >= min_ppm)
        .select("id_a", "id_b", "inter", "cont_a_ppm", "cont_b_ppm")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


MINHASH_PRIME = 2147483647  # 2^31 - 1: a*h fits in int64 with a,h < 2^31


def minhash_perm_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per permutation — fixed LCG of the perm index,
    shared verbatim with the DuckDB oracle SQL (catalog/dedup.py)."""
    coeffs = []
    for i in range(num_perm):
        a = (i * 2654435761 + 2246822519) % MINHASH_PRIME or 1
        b = (i * 3266489917 + 668265263) % MINHASH_PRIME
        coeffs.append((a, b))
    return coeffs


def portable_hash60(col) -> F.Column:
    """60-bit integer hash both engines compute identically: first 15 hex
    chars of md5 parsed base-16 (Spark: conv; DuckDB: hex-digit fold)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# DuckDB-side twin of portable_hash60 (format with the column/expr text):
# md5 hex → first 15 chars → base-16 fold. Oracle SQL for every query
# whose Spark side hashes with portable_hash60 composes this.
DUCK_H60 = (
    "list_reduce(list_transform(string_split(substring(md5({col}),1,15),''),"
    " c -> strpos('0123456789abcdef', c) - 1), (a,b) -> a*16 + b)::BIGINT"
)


def minhash_signatures(sh: DataFrame, num_perm: int = 32) -> DataFrame:
    """MinHash signature per id from its shingle set.

    One portable 60-bit digest per shingle, then permutation i is the
    linear map (a_i*h + b_i) mod p — deterministic, engine-portable
    (exact DuckDB oracle), and computed map-side. All ``num_perm`` minima
    run as parallel aggregates in ONE groupBy pass (no perm explode, no
    row blow-up): map-side partial mins make the shuffle num_perm longs
    per (partition, id). Returns (id, sig: array<bigint> ordered by perm)."""
    h = (portable_hash60(F.col("shingle")) % MINHASH_PRIME).alias("h")
    hashed = sh.select("id", h)
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_perm_coeffs(num_perm))
    ]
    wide = hashed.groupBy("id").agg(*mins)
    return wide.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 8) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, bucket by
    (band index, band hash), emit co-bucketed pairs. Bucket sizes bound the
    pair blow-up; the band hash is 8 bytes so the shuffle is tiny.

    The band hash is a base-31 fold of the band's signature values (each
    < 2^31, ≤ 4 per band → fits int64) — the same expression the DuckDB
    oracle writes out longhand."""
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    rows_per_band = (F.size(F.col("sig")) / F.lit(bands)).cast("int")
    # slice start computed in bigint then narrowed (bounded by num_perm,
    # a config constant — the cast exists so no int32 product appears
    # anywhere in the plan; the overflow linter runs clean, zero allowlist)
    slice_start = (
        F.col("band").cast("bigint") * rows_per_band.cast("bigint") + 1
    ).cast("int")
    band_hash = F.aggregate(
        F.slice(F.col("sig"), slice_start, rows_per_band),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc * F.lit(31) + x,
    )
    banded = (
        sigs.select("id", "sig", band_idx)
        .withColumn("bh", band_hash)
        .select("id", "band", "bh")
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_pairs_jaccard(
    cands: DataFrame, sh: DataFrame, min_bp: int = 2000
) -> DataFrame:
    """Exact Jaccard for *candidate pairs only*: join each side to its
    collected shingle set, intersect in-row. Cost is O(|candidates|), not
    O(|all co-bucketed pairs|) — the property that makes LSH worth it.

    Shingle sets are collected only for docs that appear in a candidate
    pair (semi-join first): at corpus scale candidates ≪ docs, so this
    turns the heaviest shuffle — collect_set over every doc's shingles —
    into one over the near-dup sliver only."""
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # both pair endpoints probe the same collected sets (2×) — share so
    # the semi-join + collect_set pipeline runs once (see _shared)
    sets = _shared(
        sh.join(cand_ids, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("sset"))
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("sset").alias("set_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sset").alias("set_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size(F.col("set_a")) + F.size(F.col("set_b")) - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter.cast("bigint"))
        .withColumn(
            "jaccard_bp",
            F.floor(F.col("inter") * F.lit(10000.0) / union).cast("bigint"),
        )
        .filter(F.col("jaccard_bp") >= min_bp)
        .select("id_a", "id_b", "inter", "jaccard_bp")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    min_bp: int = 2000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → banded
    candidates → exact-Jaccard verification of candidates only."""
    # shingles feed both the signatures and the verification
    sh = _shared(shingles(df, id_col, text_col, n))
    # signatures are one row per doc — sharing them keeps the banding
    # self-join from re-running the groupBy over the (much larger) shingles
    sigs = _shared(minhash_signatures(sh, num_perm))
    # candidates feed verification twice (the pair join + the semi-join
    # that prunes shingle collection) — share so banding runs once
    cands = _shared(lsh_candidate_pairs(sigs, bands))
    return verify_pairs_jaccard(cands, sh, min_bp=min_bp)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 60  # width of portable_hash60


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document, computed as pure column expressions:
    per distinct token, a portable 60-bit digest (exact DuckDB oracle);
    per bit, sum(±1) over tokens; sign → bit.

    The per-bit expansion is a 60-way explode — bounded and shuffle-free
    until the final (id, bit) aggregation. Returns (id, simhash)."""
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
        ).alias("tok"))
        .withColumn("h", portable_hash60(F.col("tok")))
    )
    bits = toks.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        F.col("h"),
    ).withColumn(
        "vote",
        F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1),
    )
    return (
        bits.groupBy("id", "bit")
        .agg(F.sum("vote").alias("v"))
        .withColumn("bitval", F.when(F.col("v") > 0, F.lit(1)).otherwise(F.lit(0)))
        .groupBy("id")
        .agg(F.sum(F.expr("cast(bitval as bigint) << bit")).alias("simhash"))
    )


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of ``bands`` 15-bit
    bands (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal), then
    exact hamming via bit_count(xor) ≤ max_hamming."""
    width = SIMHASH_BITS // bands
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    # both pair sides re-run the upstream simhash computation (token +
    # 60-bit explodes) — share the NARROW (id, simhash) table, not the
    # ×bands-exploded banded stream: materializing the exploded stream
    # was a measured regression (r11 driver bench 1.17 → 1.51 s, the
    # exploded-stream class the wave-1 A/Bs already ruled out), while
    # the pre-explode table is 16 bytes/row and its upstream is the
    # expensive part (operators/sharing.py)
    sims = _shared(sims.select("id", "simhash"))
    banded = sims.select("id", "simhash", band_idx).withColumn(
        "bh",
        F.expr(
            f"(simhash >> CAST(CAST(band AS BIGINT) * {width} AS INT))"
            f" & {(1 << width) - 1}"
        ),
    )
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_dedup_incremental(
    df: DataFrame,
    is_existing,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    min_bp: int = 2000,
) -> DataFrame:
    """Incremental MinHash-LSH: dedup a NEW batch against an already-
    indexed corpus plus within itself, skipping existing×existing pairs
    (those were found when the corpus was indexed). ``is_existing`` is a
    boolean Column marking indexed rows.

    This is the production shape at 100 TB: per-ingest cost is
    proportional to the new batch, not the corpus. Banding still runs
    over all signatures (in a deployment the corpus side is a LOADED
    signature table — signatures are recomputed here only because the
    test lake stores raw text), but the existing×existing sliver is
    pruned BEFORE the expensive shingle-set verification, so exact
    Jaccard runs only on pairs involving a new document.

    Returns (id_a, id_b, inter, jaccard_bp, is_new_pair) where
    is_new_pair is true iff both sides are new-batch documents."""
    marked = df.withColumn("__existing", is_existing)
    sh = _shared(shingles(marked, id_col, text_col, n))
    sigs = _shared(minhash_signatures(sh, num_perm))
    flags = marked.select(
        F.col(id_col).alias("id"), F.col("__existing").alias("existing")
    )
    cands = _shared(
        lsh_candidate_pairs(sigs, bands)
        .join(flags.select(F.col("id").alias("id_a"),
                           F.col("existing").alias("ex_a")), "id_a")
        .join(flags.select(F.col("id").alias("id_b"),
                           F.col("existing").alias("ex_b")), "id_b")
        .filter(~(F.col("ex_a") & F.col("ex_b")))
    )
    verified = verify_pairs_jaccard(
        cands.select("id_a", "id_b"), sh, min_bp=min_bp
    )
    return verified.join(
        cands.select(
            "id_a", "id_b",
            (~F.col("ex_a") & ~F.col("ex_b")).alias("is_new_pair"),
        ),
        ["id_a", "id_b"],
    ).select("id_a", "id_b", "inter", "jaccard_bp", "is_new_pair")


# ---------------------------------------------------------------------------
# paragraph/segment-level dedup (CCNet-style)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 16,
) -> DataFrame:
    """Sub-document deduplication in the CCNet style (Wenzek et al. 2020,
    arXiv:1911.00359): dedup at paragraph granularity across the WHOLE
    corpus — a segment survives only at its first occurrence (lowest
    (doc_id, seg_idx)) — then reassemble each document from its surviving
    segments. This removes boilerplate (headers, navbars, license
    blocks) that document-level dedup cannot see.

    Segmentation here is a fixed ``seg_words``-word window (the synthetic
    corpus has no newlines; with real data, split on '\\n\\n' first and
    fall back to windows for oversized paragraphs).

    Scale: one shuffle on the segment digest (16-byte md5 + ids, never
    the text — segment text stays id-partitioned for reassembly);
    first-occurrence is skew-safe via min(struct(id, seg_idx)) partial
    aggregate + join-back (round-11: a corpus-hot boilerplate segment
    collapses map-side instead of single-task-sorting its digest
    partition — see substring_dedup for the full argument); reassembly
    is a per-doc aggregation. Returns (id, n_segs, n_kept, kept_text).
    """
    ws = F.split(F.lower(F.col(text_col)), " ")
    pre = df.select(F.col(id_col).alias("id"), ws.alias("ws"))
    n_segs = F.ceil(F.size("ws") / F.lit(seg_words)).cast("bigint")
    segs = pre.select(
        "id",
        F.explode(F.sequence(F.lit(0), (n_segs - 1).cast("int"))).alias("seg_idx"),
        "ws",
    ).select(
        "id",
        F.col("seg_idx").cast("bigint").alias("seg_idx"),
        F.array_join(
            # offset in bigint, narrowed only at the slice boundary —
            # seg_idx*seg_words as int32 would abort on a pathological
            # ~2^31/seg_words-paragraph document
            F.slice(
                "ws",
                (
                    F.col("seg_idx").cast("bigint") * seg_words + 1
                ).cast("int"),
                seg_words,
            ),
            " ",
        ).alias("seg"),
    )
    # first occurrence wins, ordered by (doc id, position):
    # min(struct) is field-lexicographic, so the keeper per digest is
    # exactly the lowest (id, seg_idx); both join sides data-sized →
    # shuffle_hash pinned (no broadcast at 100 TB)
    # segs feeds the keeper aggregation AND the join-back probe — share
    # so the segmentation explode runs once (operators/sharing.py)
    segs = _shared(segs.withColumn("dig", F.md5("seg")))
    keepers = segs.groupBy("dig").agg(
        F.min(F.struct("id", "seg_idx")).alias("__first")
    )
    flagged = (
        segs.hint("shuffle_hash")
        .join(keepers.hint("shuffle_hash"), "dig")
        .withColumn(
            "kept",
            (F.col("id") == F.col("__first.id"))
            & (F.col("seg_idx") == F.col("__first.seg_idx")),
        )
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("kept"),
                                    F.struct("seg_idx", "seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
) -> DataFrame:
    """EXACT duplicate-substring detection at token granularity (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499) — the canonical LLM-dedup family that
    paragraph/winnow/minhash only approximate: find every maximal span
    of ≥ ``k`` consecutive tokens that also occurs at an earlier
    position in the corpus (including earlier in the SAME document —
    self-repetition is dup material too). The reference paper builds a
    corpus suffix array; the distributed decomposition is exact and
    needs no global structure:

      * a substring of length ≥ k repeats  ⟺  it contains ≥ 1 repeated
        k-token window — so sliding k-windows (stride 1) are a
        LOSSLESS detector for ≥ k repeats;
      * first-occurrence keeps: the window at the globally smallest
        (id, pos) is the keeper; every other occurrence is duplicate
        material (paragraph_dedup's rule at token granularity);
      * maximal spans: a document's non-keeper windows cover token
        intervals [pos, pos+k−1]; overlapping intervals merge into
        islands (windows sorted by pos: a window starts a new island
        iff pos − prev_pos ≥ k — gaps-and-islands, zero self-joins).

    Scale shape: windows are digested IN the generate projection (md5
    over the k-token slice — only (id, pos, 16-byte digest) ever
    crosses a shuffle, never window text; plan-pinned).
    First-occurrence is SKEW-SAFE (round-11): min(struct(id, pos)) per
    digest is a map-side partial aggregate — a corpus-hot k-gram
    (boilerplate repeated 10⁶×) collapses to one tiny row per map task
    before the digest shuffle, instead of forcing a full single-task
    sort of the hot digest partition (the old row_number-over-window
    shape). The join-back streams the hot partition through a hash
    probe (build side = one keeper row per digest); both sides are
    data-sized, so shuffle_hash is pinned both ways — Catalyst must
    never broadcast either at 100 TB. Then one id-keyed shuffle shared
    by the lag window, the island running sum, AND the span aggregate
    (HashPartitioning(id) satisfies the (id, island) clustering — no
    extra Exchange).

    Returns one row per maximal duplicated span:
    (``id_col``, span_start, span_end, span_tokens, n_windows),
    token offsets 0-based inclusive.
    """
    from pyspark.sql import Window

    ws = F.split(F.lower(F.col(text_col)), " ")
    pre = df.select(F.col(id_col).alias("id"), ws.alias("ws")).filter(
        F.size("ws") >= k
    )
    wins = pre.select(
        "id",
        F.posexplode(
            F.sequence(F.lit(0), F.size("ws") - k)
        ).alias("pos", "__i"),
        "ws",
    ).select(
        "id",
        F.col("pos").cast("bigint").alias("pos"),
        # digest inside the generate projection: window text never
        # leaves the map side
        F.md5(
            F.array_join(F.slice("ws", F.col("pos") + 1, k), " ")
        ).alias("dig"),
    )
    # wins feeds the keeper aggregation AND the join-back probe, but is
    # deliberately NOT shared: the materialized window-digest stream
    # (32-char md5 hex per token position) is larger than the corpus it
    # came from, and the r11 paired A/B measured the store+replay
    # costlier than recomputing the explode on both consumers (wall
    # −0.03 s, CPU +8% at sf0.1; same verdict for the stats/scrub
    # consumers). The incremental variant keeps its share — it has a
    # third consumer and measured the other way.
    # struct ordering is field-lexicographic, so min(struct(id, pos))
    # IS the first occurrence under the (id, pos) total order
    keepers = wins.groupBy("dig").agg(
        F.min(F.struct("id", "pos")).alias("__first")
    )
    dup = (
        wins.hint("shuffle_hash")
        .join(keepers.hint("shuffle_hash"), "dig")
        .filter(
            (F.col("id") != F.col("__first.id"))
            | (F.col("pos") != F.col("__first.pos"))
        )
        .select("id", "pos")
    )
    by_pos = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(by_pos) < k, F.lit(0)
    ).otherwise(F.lit(1))
    islands = dup.withColumn("__brk", brk).withColumn(
        "island",
        F.sum("__brk").over(
            by_pos.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k) - 1).alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_windows",
        )
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    k: int = 16,
) -> DataFrame:
    """The headline number of Lee et al. 2022 (arXiv:2107.06499,
    Table 2): WHAT SHARE of each feed's tokens is duplicated text —
    per-group rollup of ``substring_dedup``'s maximal spans. Spans are
    disjoint by construction (islands merge on overlap), so
    SUM(span_tokens) is the exact duplicated-token count per document;
    the per-feed dup_ppm is the number that decides which ingest
    sources need substring-level scrubbing before training.

    Scale shape: the substring machinery unchanged, plus one
    (id)-keyed span rollup (same partitioning as the span aggregate —
    no new Exchange), ONE data-sized keyed join back to the doc list
    (shuffle-hash pinned both ways: both sides data-sized, Catalyst
    must not broadcast either at 100 TB), and a group-vocabulary-sized
    final aggregate.

    Returns (``group_col``, n_docs, total_tokens, dup_tokens, dup_ppm)
    with dup_ppm = floor(1e6 * dup_tokens / total_tokens).
    """
    spans = substring_dedup(df, id_col, text_col, k)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").alias("__dup")
    )
    docs = df.select(
        F.col(id_col),
        F.col(group_col).alias("__g"),
        F.size(F.split(F.lower(F.col(text_col)), " "))
        .cast("bigint")
        .alias("__tok"),
    )
    joined = docs.hint("shuffle_hash").join(
        per_doc.hint("shuffle_hash"), id_col, "left"
    )
    return (
        joined.groupBy(F.col("__g").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__tok").cast("bigint").alias("total_tokens"),
            F.coalesce(F.sum("__dup"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
        )
        .select(
            group_col,
            "n_docs",
            "total_tokens",
            "dup_tokens",
            # dup_tokens can reach the corpus token count (~2e13 at
            # 100 TB of text): * 1e6 passes int64 at 9.2e12 and ANSI
            # Spark aborts — ride DECIMAL(38,0) (the overflow-audit
            # class, same as text.py f_ppm / banding recall)
            F.expr(
                "CAST(CASE WHEN total_tokens = 0 THEN 0 ELSE"
                " CAST(dup_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV total_tokens END AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


def substring_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022 (arXiv:2107.06499 §4.1,
    "ExactSubstr" dedup): ``substring_dedup`` finds every maximal
    duplicated span; the paper's actual deliverable is the CLEANED
    corpus — cut every non-first duplicated span out of its document
    and reassemble the survivors in order. This is the op a training
    pipeline runs right before tokenization; paragraph_dedup is its
    fixed-segment approximation, this one is exact at token
    granularity.

    Scale shape: the substring machinery unchanged, plus a per-doc
    span rollup that rides the span aggregate's HashPartitioning(id)
    (no new Exchange — span counts per doc are bounded by
    n_tokens / k), then ONE id-keyed join back to the token arrays
    (both sides data-sized: shuffle_hash pinned both ways, Catalyst
    must never broadcast either at 100 TB). The cut itself is a
    per-row higher-order filter — tokens × spans per document, all
    inside whole-stage codegen, no Python boundary, and the document
    text crosses exactly one shuffle (the join), never the digest
    shuffle.

    Returns (``id_col``, n_tokens, dup_tokens, kept_tokens,
    kept_text), where kept_tokens ≡ n_tokens − dup_tokens because
    maximal spans are disjoint by construction.
    """
    spans = substring_dedup(df, id_col, text_col, k)
    spans_per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias(
            "__spans"
        ),
        F.sum("span_tokens").cast("bigint").alias("__dup"),
    )
    base = df.select(
        F.col(id_col),
        F.split(F.lower(F.col(text_col)), " ").alias("__ws"),
    )
    joined = base.hint("shuffle_hash").join(
        spans_per_doc.hint("shuffle_hash"), id_col, "left"
    )
    # token index i is 0-based, spans are 0-based inclusive — a token
    # survives iff no span covers its position; docs with no spans
    # (left-join null) keep everything
    kept = F.when(F.col("__spans").isNull(), F.col("__ws")).otherwise(
        F.expr(
            "filter(__ws, (w, i) -> NOT exists(__spans,"
            " s -> i >= s.span_start AND i <= s.span_end))"
        )
    )
    return joined.select(
        F.col(id_col),
        F.size("__ws").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("__dup"), F.lit(0)).cast("bigint").alias(
            "dup_tokens"
        ),
        F.size(kept).cast("bigint").alias("kept_tokens"),
        F.array_join(kept, " ").alias("kept_text"),
    )


def substring_dedup_incremental(
    df: DataFrame,
    is_existing,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
) -> DataFrame:
    """Incremental exact-substring dedup: find duplicated ≥ ``k``-token
    spans in a NEW ingest batch against an already-indexed corpus plus
    within the batch itself — ``minhash_dedup_incremental``'s
    production shape applied to the Lee et al. 2022 exact family
    (``substring_dedup``). ``is_existing`` is a boolean Column marking
    indexed rows; spans are reported ONLY for new documents (corpus
    self-duplication was handled at index time).

    Keeper precedence: per digest, min(struct(rank, id, pos)) with
    rank 0 for corpus rows and 1 for batch rows — an indexed
    occurrence always wins, otherwise first-(id, pos) within the
    batch. So a batch window whose keeper has rank 0 duplicates
    CORPUS material and one with rank 1 duplicates earlier batch
    material; the span rollup counts both (n_corpus_windows tells an
    ingest pipeline whether a feed is re-sending the archive or
    repeating itself). In a deployment the corpus side is a LOADED
    (dig → keeper) index table — digests are recomputed here only
    because the test lake stores raw text; the per-ingest shuffle is
    then proportional to the new batch, not the corpus.

    Scale shape: identical to substring_dedup's round-11 skew-safe
    form — digests computed in the generate projection, keeper via
    map-side partial agg (corpus-hot boilerplate collapses per map
    task), shuffle_hash-pinned join-back, islands on the id-keyed
    partitioning. The only addition is the 1-byte rank in the keeper
    struct.

    Returns one row per maximal duplicated span of a NEW document:
    (``id_col``, span_start, span_end, span_tokens, n_windows,
    n_corpus_windows), offsets 0-based inclusive.
    """
    from pyspark.sql import Window

    marked = df.withColumn("__existing", is_existing)
    ws = F.split(F.lower(F.col(text_col)), " ")
    pre = marked.select(
        F.col(id_col).alias("id"),
        F.col("__existing").alias("ex"),
        ws.alias("ws"),
    ).filter(F.size("ws") >= k)
    wins = pre.select(
        "id",
        "ex",
        F.posexplode(
            F.sequence(F.lit(0), F.size("ws") - k)
        ).alias("pos", "__i"),
        "ws",
    ).select(
        "id",
        "ex",
        F.col("pos").cast("bigint").alias("pos"),
        F.md5(
            F.array_join(F.slice("ws", F.col("pos") + 1, k), " ")
        ).alias("dig"),
    )
    # wins feeds the keeper aggregation AND the join-back probe — share
    # so the window-digest explode runs once (operators/sharing.py)
    wins = _shared(wins)
    keepers = wins.groupBy("dig").agg(
        F.min(
            F.struct(
                F.when(F.col("ex"), F.lit(0))
                .otherwise(F.lit(1))
                .alias("r"),
                "id",
                "pos",
            )
        ).alias("__first")
    )
    dup = (
        wins.filter(~F.col("ex"))
        .hint("shuffle_hash")
        .join(keepers.hint("shuffle_hash"), "dig")
        .filter(
            (F.col("id") != F.col("__first.id"))
            | (F.col("pos") != F.col("__first.pos"))
        )
        .select(
            "id",
            "pos",
            # rank 0 keeper = this window repeats corpus material
            (F.col("__first.r") == 0).cast("bigint").alias("__corpus"),
        )
    )
    by_pos = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(by_pos) < k, F.lit(0)
    ).otherwise(F.lit(1))
    islands = dup.withColumn("__brk", brk).withColumn(
        "island",
        F.sum("__brk").over(
            by_pos.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k) - 1).alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("__corpus").cast("bigint").alias("n_corpus_windows"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_windows",
            "n_corpus_windows",
        )
    )


# ---------------------------------------------------------------------------
# edit-distance (Levenshtein) near-dup
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 16,
    prefix_len: int = 16,
    len_bucket: int = 64,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-duplicate pairs by bounded Levenshtein distance — the
    fuzzy-dedup verifier for texts that differ by small edits (typo
    variants, whitespace drift) which shingle Jaccard over-penalizes on
    short documents.

    Candidate generation follows the module's bucketed-blocking rule:
    two texts can be within ``max_dist`` edits only if their lengths
    differ by < ``max_dist``... but a length band alone is a huge
    blocking key, so the block is (normalized prefix, length bucket) —
    near-identical texts share both. (Docs straddling a length-bucket
    boundary or differing inside the prefix are missed; this is a
    HIGH-PRECISION verifier like the LSH band filters, not an exhaustive
    scan — the declared trade of every blocking scheme here.)

    Hot blocks (boilerplate prefixes) are dropped via a pre-join count
    guard, the same anti-join discipline as jaccard_pairs' stop-shingle
    guard: pair generation is bounded by ``max_bucket``² per block,
    never O(n²) global. Distance is computed ONLY on candidates, with
    ``F.levenshtein``'s threshold form (cost caps at max_dist+1
    internally).

    Returns (id_1, id_2, dist) with id_1 < id_2, dist <= max_dist.
    """
    norm = F.lower(F.trim(F.col(text_col)))
    # keyed feeds the block-count guard AND the anti-join probe; guarded
    # feeds BOTH self-join sides — share (operators/sharing.py)
    keyed = _shared(
        df.select(
            F.col(id_col).alias("id"),
            norm.alias("t"),
            F.substring(norm, 1, prefix_len).alias("__pfx"),
            F.expr(f"length({text_col}) div {len_bucket}").alias("__lb"),
        )
    )
    blocks = keyed.groupBy("__pfx", "__lb").agg(F.count(F.lit(1)).alias("__n"))
    hot = blocks.filter(F.col("__n") > max_bucket).select("__pfx", "__lb")
    guarded = _shared(keyed.join(hot, ["__pfx", "__lb"], "left_anti"))
    a = guarded.select(
        F.col("__pfx"), F.col("__lb"),
        F.col("id").alias("id_1"), F.col("t").alias("t1"),
    )
    b = guarded.select(
        F.col("__pfx"), F.col("__lb"),
        F.col("id").alias("id_2"), F.col("t").alias("t2"),
    )
    return (
        a.join(b, ["__pfx", "__lb"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select(
            "id_1",
            "id_2",
            F.levenshtein("t1", "t2", max_dist + 1).cast("bigint").alias("dist"),
        )
        # the threshold form returns -1 when the distance exceeds the
        # cap — exclude it explicitly, -1 <= max_dist would pass
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


# ---------------------------------------------------------------------------
# prefix-filtering exact set-similarity join (PPJoin family)
# ---------------------------------------------------------------------------


def prefix_filter_pairs(
    sh: DataFrame,
    min_ppm: int = 300_000,
    candidate_observation=None,
    raw_observation=None,
    prefilter_observation=None,
    _return_candidates: bool = False,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering
    (Chaudhuri/Ganti/Kaushik ICDE'06; Xiao et al. WWW'08 "PPJoin") —
    the exact counterpart to the MinHash APPROXIMATION: no candidate
    pair is missed, guaranteed by construction rather than
    probabilistically.

    The filter: order every document's shingle set by GLOBAL RARITY
    (corpus frequency asc, shingle asc — one deterministic total order
    for the whole corpus). For Jaccard(A, B) >= t, A and B must agree
    on at least one element inside each one's PREFIX of length
    ``|X| - ceil(t * |X|) + 1`` (if they disagreed on all prefix
    elements, the overlap is too small to reach t). So candidates only
    need to meet in a prefix-element bucket, and prefixes are by
    construction the RAREST elements — bucket sizes shrink exactly
    where full-posting buckets (jaccard_pairs' shared-shingle core)
    blow up. A length filter inside the bucket
    (``min(|A|,|B|) * 1e6 >= max(|A|,|B|) * t_ppm``) prunes further.

    Contrast with ``jaccard_pairs``: that core buckets on EVERY shared
    shingle and needs a stop-shingle guard (lossy — hot shingles stop
    contributing evidence); this one buckets only on prefix elements
    and stays exact. The trade: verification re-joins the full sorted
    shingle-key arrays per surviving pair (PPJoin's verify step), so
    pair verification carries doc-sized arrays — candidates, not the
    corpus, dominate that cost. A mega-duplicate-ball still yields
    quadratic candidates, but those pairs ARE the output (true dups) —
    candidate count tracks output size, the optimum for an exact join.

    POSITIONAL filter (PPJoin proper, added after the sf1 profile —
    390 s, the r8 suite's slowest row — triggered the deferral clause
    that used to live here): each candidate must satisfy, for EVERY
    rank r among its shared prefix tokens (rarity order),
    ``r + min(|A| − i_r, |B| − j_r) ≥ ⌈t·(|A|+|B|)/(1+t)⌉`` (positions
    1-based). Exactness argument: tokens are globally ordered, so any
    common token smaller than a shared prefix token is itself a shared
    prefix token — hence at the pair's r-th shared prefix token the
    overlap is at most those r tokens plus what sits after positions
    (i_r, j_r) on both sides. The right-hand side is the overlap
    Jaccard ≥ t forces (inter ≥ t·(|A|+|B|)/(1+t)); both sides ride
    BIGINT with the ceil folded into a cross-multiplication. The
    min-over-r evaluation is a sorted collect_list (≤ prefix-length
    elements) + higher-order transform inside the same pair
    aggregation that used to be the bare ``distinct()`` — same single
    Exchange on (id_a, id_b), strictly fewer rows into the doc-sized
    verify joins.

    Candidate accounting: pass ``pyspark.sql.Observation`` instances
    as ``raw_observation`` (pairs out of the prefix buckets, once per
    shared prefix token — pre-dedup multiplicity),
    ``prefilter_observation`` (DISTINCT pairs after the pair groupBy
    but before the positional filter — the honest denominator for the
    positional filter's marginal cut, since the old ``.distinct()``
    already removed the multiplicity ``raw`` counts), and
    ``candidate_observation`` (pairs entering verification) and the
    counts ride the job as observed metrics — the candidate:output
    ratio becomes a committed artifact (scripts_dev/ppjoin_profile.py)
    instead of a docstring claim.

    Scale shape: one shuffle each for the frequency agg, the
    freq-keyed join, the per-doc sort-agg, the prefix-bucket agg, the
    pair distinct, and two SHUFFLE_HASH verify joins (same pin +
    rationale as ``_size_sides``: Catalyst cannot estimate pair
    fan-out through the Generates, and a broadcast of a fact-scale
    side is a hard abort at 100 TB). Nothing driver-side; nothing
    O(n^2) outside true-duplicate balls.

    Input: (id, shingle) distinct posting rows (from ``shingles``).
    Returns (id_a, id_b, inter, jaccard_ppm), id_a < id_b,
    jaccard_ppm = floor(1e6 * |A inter B| / |A union B|) >= min_ppm.
    """
    # global rarity order as ONE engine-portable string key:
    # zero-padded frequency || 0x1f || shingle sorts exactly like
    # (freq asc, shingle asc) and survives the trip through array_sort
    # on both engines (no struct-ordering semantics to align)
    # posting rows feed the frequency pass AND the freq-keyed join —
    # share (see _shared: measured multi-scan of the corpus otherwise)
    sh = _shared(sh)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    keyed = sh.join(freq.hint("shuffle_hash"), "shingle").select(
        "id",
        F.concat(
            F.format_string("%012d", F.col("freq")),
            F.lit("\x1f"),
            F.col("shingle"),
        ).alias("k"),
    )
    # consumed by the prefix postings and BOTH verify-side probes (3×)
    docs = _shared(
        keyed.groupBy("id")
        .agg(F.array_sort(F.collect_list("k")).alias("toks"))
        .select(
            "id",
            "toks",
            F.size("toks").alias("n"),
            # prefix length |X| - ceil(t|X|) + 1, exact in integers
            # size() is int32: the ·min_ppm product must ride BIGINT
            # (overflows at ~7k shingles — a 7k-word document — and
            # ANSI aborts the job)
            F.expr(
                f"size(toks) - CAST((CAST(size(toks) AS BIGINT) "
                f"* {min_ppm} + 999999) DIV 1000000 AS INT) + 1"
            ).alias("p"),
        )
    )
    postings = docs.select(
        F.col("id"),
        F.col("n"),
        F.posexplode(F.slice("toks", 1, F.col("p"))).alias("pos", "k"),
    )
    buckets = postings.groupBy("k").agg(
        F.collect_list(F.struct("id", "n", "pos")).alias("ms")
    )
    pair_src = buckets.filter(F.size("ms") >= 2).select(
        "k", F.posexplode("ms").alias("i", "x"), "ms"
    )
    raw_pairs = (
        pair_src.select(
            "k",
            "x",
            F.explode(
                F.slice(F.col("ms"), F.col("i") + 2, F.size("ms"))
            ).alias("y"),
        )
        # length filter: Jaccard >= t forces t * max(|A|,|B|) <= min
        # bigint casts: n is int32 and n·1e6 overflows at n > 2147
        .filter(
            F.least(F.col("x.n"), F.col("y.n")).cast("bigint")
            * F.lit(1_000_000)
            >= F.greatest(F.col("x.n"), F.col("y.n")).cast("bigint")
            * F.lit(min_ppm)
        )
        .select(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
            "k",
            # tokens that can still match AFTER this shared one on
            # each side (pos is 0-based, so remaining = n − (pos+1));
            # min is symmetric in the id orientation
            F.least(
                F.col("x.n") - F.col("x.pos") - 1,
                F.col("y.n") - F.col("y.pos") - 1,
            ).cast("bigint").alias("rem"),
            (F.col("x.n") + F.col("y.n")).cast("bigint").alias("ssum"),
        )
    )
    if raw_observation is not None:
        raw_pairs = raw_pairs.observe(
            raw_observation,
            F.count(F.lit(1)).alias("n_raw_pairs"),
        )
    # per pair, the r-th shared prefix token (rarity order) bounds the
    # overlap by r + rem_r: the first r shared tokens plus whatever can
    # still match after position r on both sides (any common token
    # below k_r in the global order is itself one of those r — see the
    # docstring's ordering argument — and any common token above k_r
    # sits after (i_r, j_r) in both sorted arrays). The pair's bound is
    # the MIN over r; the collected array is ≤ prefix-length sized.
    grouped = raw_pairs.groupBy("id_a", "id_b").agg(
        F.array_sort(F.collect_list(F.struct("k", "rem"))).alias(
            "__sh"
        ),
        F.max("ssum").alias("ssum"),  # constant within the pair
    )
    if prefilter_observation is not None:
        grouped = grouped.observe(
            prefilter_observation,
            F.count(F.lit(1)).alias("n_distinct_pairs"),
        )
    cands = (
        grouped
        .withColumn(
            "ub",
            F.array_min(
                F.transform(
                    "__sh",
                    lambda s, i: i.cast("bigint") + 1 + s["rem"],
                )
            ),
        )
        # positional filter: ub ≥ ⌈ssum·t/(1+t)⌉, cross-multiplied
        # (integer ub ≥ ceil(x/y) ⟺ ub·y ≥ x)
        .filter(
            F.col("ub") * F.lit(1_000_000 + min_ppm)
            >= F.col("ssum") * F.lit(min_ppm)
        )
        .select("id_a", "id_b")
    )
    if candidate_observation is not None:
        cands = cands.observe(
            candidate_observation,
            F.count(F.lit(1)).alias("n_candidates"),
        )
    if _return_candidates:
        # measurement hook (scripts_dev/ppjoin_profile.py): the
        # candidate stream BEFORE the doc-sized verify joins, so the
        # generation/verification wall split is a measured artifact
        return cands
    ta = docs.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n").alias("sz_a"),
    ).hint("shuffle_hash")
    tb = docs.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n").alias("sz_b"),
    ).hint("shuffle_hash")
    verified = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("bigint")
            .alias("inter"),
            (F.col("sz_a") + F.col("sz_b")).alias("ssum"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            F.expr(
                "CAST((inter * 1000000) DIV (ssum - inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .filter(F.col("jaccard_ppm") >= min_ppm)
    )
    return verified


# ---------------------------------------------------------------------------
# sorted-neighborhood blocking (Hernandez/Stolfo SIGMOD'95)
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    bucket_len: int = 4,
) -> DataFrame:
    """Entity-resolution blocking by SORT ORDER: order all records by a
    normalized blocking key and emit every pair whose positions in that
    global order are less than ``window`` apart (Hernandez/Stolfo's
    sorted-neighborhood method — candidates are *near-misses in the
    sort*, catching typos that token- or shingle-blocking misses
    because every shingle differs).

    The global rank is computed WITHOUT a global sort: records bucket
    by the first ``bucket_len`` chars of the key (prefix order is
    consistent with full-key order), rank within each bucket, and add
    bucket offsets from a bucket-cardinality-sized running sum that
    re-enters on a broadcast join — the token_budget_select
    decomposition. Sort parallelism = bucket count; no single-task
    data-wide Sort anywhere (plan-pinned). Pick ``bucket_len`` deep
    enough to spread the keyspace: a shared constant prefix puts
    everything in one bucket (the documented hot-bucket caveat).

    Pairing is rank-block aligned: row at rank r posts to block
    r div window; the right side posts to its block and the previous
    one, so each qualifying pair joins EXACTLY once (no distinct).
    Returns (id_a, id_b, key_a, key_b, rank_gap), 1 <= rank_gap <
    window, ordered pairs by rank.
    """
    from pyspark.sql import Window

    # base feeds the in-bucket ranking AND the bucket totals; g feeds
    # both pair sides — share (operators/sharing.py)
    base = _shared(
        df.select(
            F.col(id_col).alias("id"),
            F.col(key_col).alias("k"),
            F.substring(F.col(key_col), 1, bucket_len).alias("__b"),
        )
    )
    w_in = Window.partitionBy("__b").orderBy(F.asc("k"), F.asc("id"))
    ranked = base.withColumn("__r_in", F.row_number().over(w_in))
    totals = base.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.partitionBy()
        .orderBy(F.asc("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the offsets window is unpartitioned BUT over the bucket-cardinality
    # totals table only (buckets ≪ rows) — the same shape as
    # token_budget_select's offset pass
    offsets = totals.select(
        "__b", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    g = _shared(
        ranked.join(F.broadcast(offsets), "__b").select(
            "id", "k", (F.col("__off") + F.col("__r_in")).alias("rank")
        )
    )
    a = g.select(
        F.col("id").alias("id_a"),
        F.col("k").alias("key_a"),
        F.col("rank").alias("rank_a"),
        F.expr(f"(rank - 1) DIV {int(window)}").alias("__blk"),
    )
    b = g.select(
        F.col("id").alias("id_b"),
        F.col("k").alias("key_b"),
        F.col("rank").alias("rank_b"),
        F.explode(
            F.array(
                F.expr(f"(rank - 1) DIV {int(window)}"),
                F.expr(f"(rank - 1) DIV {int(window)} - 1"),
            )
        ).alias("__blk"),
    )
    # the pair join is PINNED shuffled: the b side sits behind a Generate
    # (the ×2 block explode), and Catalyst's static size estimate through
    # a Generate doesn't model fan-out — the same underestimate that
    # elected to broadcast jaccard's pair facts at the sf1 stress sweep
    # (8.7 GiB hard abort, see _size_sides). Neither side is small at
    # corpus scale, so the scalable plan is a shuffle on the block id.
    return (
        a.hint("shuffle_hash").join(b, "__blk")
        .filter(
            (F.col("rank_b") > F.col("rank_a"))
            & (F.col("rank_b") - F.col("rank_a") < window)
        )
        .select(
            "id_a",
            "id_b",
            "key_a",
            "key_b",
            (F.col("rank_b") - F.col("rank_a")).cast("bigint").alias(
                "rank_gap"
            ),
        )
    )


def linkage_score_pairs(
    pairs: DataFrame,
    attrs: DataFrame,
    id_col: str,
    exact_rules: list[tuple[str, str, int]],
    tol_rules: list[tuple[str, str, int, int]] = (),
    threshold: int = 0,
) -> DataFrame:
    """Record-linkage pair scoring (the Fellegi–Sunter decision step
    over blocked candidates): per candidate pair, an integer match
    score summed from per-field agreement weights — ``exact_rules`` =
    (rule_name, column, weight) on equality, ``tol_rules`` =
    (rule_name, column, tolerance, weight) on |a−b| ≤ tolerance for
    integer columns. Integer weights keep the oracle exact (classical
    FS log-likelihood weights are floats; fixed-point them upstream).

    Scale shape: candidates come from a BLOCKER (sorted-neighborhood /
    LSH — never all pairs); attributes re-enter by two id-keyed equi
    joins (the pair table carries ids only, so the wide attribute rows
    are never inside the blocker's shuffle); scoring is pure column
    arithmetic. Returns the pair ids + per-rule agreement flags +
    ``score`` (+ ``is_match`` at ``threshold``), match-or-above only.
    """
    cols = sorted({c for _, c, _ in exact_rules} | {c for _, c, _, _ in tol_rules})
    a = attrs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in cols],
    )
    b = attrs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in cols],
    )
    j = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    flags, score = [], F.lit(0)
    # every agreement flag is coalesced to FALSE so a NULL on either
    # side reads as disagreement (boolean, never null) — consistent
    # across exact and tolerance rule kinds
    for name, c, w in exact_rules:
        agree = F.coalesce(
            F.col(f"__a_{c}") == F.col(f"__b_{c}"), F.lit(False)
        )
        flags.append(agree.alias(name))
        score = score + F.when(agree, w).otherwise(0)
    for name, c, tol, w in tol_rules:
        agree = F.coalesce(
            F.abs(F.col(f"__a_{c}") - F.col(f"__b_{c}")) <= tol,
            F.lit(False),
        )
        flags.append(agree.alias(name))
        score = score + F.when(agree, w).otherwise(0)
    return j.select(
        "id_a", "id_b", *flags, score.cast("bigint").alias("score")
    ).filter(F.col("score") >= threshold)


def banding_recall(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_ppm: int = 200_000,
    num_perm: int = 32,
    bands: int = 8,
    sample_bp: int | None = None,
) -> DataFrame:
    """MinHash-LSH banding recall against the candidate-complete exact
    truth (prefix filtering) at the SAME Jaccard threshold — the
    bands/rows tuning measurement. Both sides verify with exact Jaccard
    on full shingle sets, so LSH output ⊆ truth and the gap is exactly
    the banding miss rate.

    ``sample_bp`` is the production knob: recall is a RATIO, so at
    100 TB you measure it on a deterministic hash-sample of documents
    (basis points of the corpus) instead of paying two full dedup
    pipelines — the m² pair cost of the exact truth is what makes the
    full-corpus harness a test-scale tool (an sf1 replicated-stress run
    out-spilled an 80 GB scratch disk at t=0.2). Sampling documents
    (not pairs) keeps both pipelines' semantics intact on the sampled
    sub-corpus.
    """
    if sample_bp is not None:
        docs = docs.filter(
            portable_hash60(F.col(id_col).cast("string")) % 10000
            < sample_bp
        )
    sh = shingles(docs, id_col, text_col, n)
    min_bp = min_ppm // 100
    # each side is consumed twice (the hit semi-join + its own scalar
    # count) — share, or the full truth/LSH pipeline runs twice
    truth = _shared(
        prefix_filter_pairs(sh, min_ppm=min_ppm).select("id_a", "id_b")
    )
    found = _shared(
        minhash_dedup(
            docs, id_col, text_col, n, num_perm, bands, min_bp=min_bp
        ).select("id_a", "id_b")
    )
    hit = found.join(truth, ["id_a", "id_b"], "left_semi")
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    nf = found.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh_pairs"))
    nh = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nf))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true_pairs",
            "n_lsh_pairs",
            "n_hit",
            F.expr(
                "CAST(CASE WHEN n_true_pairs = 0 THEN NULL"
                " ELSE (CAST(n_hit AS DECIMAL(38,0)) * 1000000)"
                " div n_true_pairs END AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


def banding_recall_banded(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_ppm: int = 200_000,
    num_perm: int = 32,
    bands: int = 8,
    sample_bp: int | None = None,
    band_edges_ppm: tuple[int, ...] = (
        200_000,
        300_000,
        500_000,
        800_000,
        1_000_000,
    ),
) -> DataFrame:
    """``banding_recall`` stratified by EXACT-Jaccard band — the
    round-10 verdict's fix for a trivially-perfect headline number: on
    a replica-heavy corpus the scalar recall is dominated by J=1.0
    pairs that 32-perm MinHash catches with probability ~1, so it
    proves plumbing, not near-threshold behaviour. Grouping the same
    truth/hit sets by the truth side's exact jaccard_ppm (already
    computed by prefix_filter_pairs' verification — stratification is
    free) yields the per-band miss rate, and the LOW bands
    ([0.2,0.3), [0.3,0.5)) are where the bands/rows S-curve actually
    gets tuned before a 100 TB run.

    Band convention: each row is labeled by its band's lower edge
    (band_lo_ppm); the top edge 1_000_000 is its own band (exact
    replicas), everything else is [edge_i, edge_{i+1}).

    Scale shape: the two production pipelines unchanged (sampled via
    ``sample_bp`` exactly like banding_recall's 100 TB mode), then ONE
    pair-keyed left join truth←found (both sides data-sized,
    shuffle_hash pinned) and a band-cardinality aggregate. recall_ppm
    rides DECIMAL(38,0) per the overflow convention.

    Returns (band_lo_ppm, n_true_pairs, n_hit, recall_ppm) ordered by
    band_lo_ppm.
    """
    if sample_bp is not None:
        docs = docs.filter(
            portable_hash60(F.col(id_col).cast("string")) % 10000
            < sample_bp
        )
    sh = shingles(docs, id_col, text_col, n)
    min_bp = min_ppm // 100
    truth = prefix_filter_pairs(sh, min_ppm=min_ppm).select(
        "id_a", "id_b", "jaccard_ppm"
    )
    found = minhash_dedup(
        docs, id_col, text_col, n, num_perm, bands, min_bp=min_bp
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    edges = sorted(band_edges_ppm)
    band = F.when(
        F.col("jaccard_ppm") >= edges[-1], F.lit(edges[-1])
    )
    for lo, hi in zip(reversed(edges[:-1]), reversed(edges[1:])):
        band = band.when(
            (F.col("jaccard_ppm") >= lo) & (F.col("jaccard_ppm") < hi),
            F.lit(lo),
        )
    joined = truth.hint("shuffle_hash").join(
        found.hint("shuffle_hash"), ["id_a", "id_b"], "left"
    )
    return (
        joined.select(
            band.cast("bigint").alias("band_lo_ppm"),
            F.coalesce(F.col("__hit"), F.lit(0)).alias("__hit"),
        )
        .groupBy("band_lo_ppm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
            F.sum("__hit").cast("bigint").alias("n_hit"),
        )
        .select(
            "band_lo_ppm",
            "n_true_pairs",
            "n_hit",
            F.expr(
                "CAST(CASE WHEN n_true_pairs = 0 THEN NULL"
                " ELSE (CAST(n_hit AS DECIMAL(38,0)) * 1000000)"
                " div n_true_pairs END AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("band_lo_ppm")
    )


def golden_record_merge(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    attr_col: str = "lang",
) -> DataFrame:
    """Survivorship merge: collapse each exact-content cluster (canonical
    token-set fingerprint) into ONE golden record with explicit,
    deterministic per-field rules — the master-data step after matching
    (er_score_pairs finds the pairs; dedup_keeper_quality picks a
    whole-row winner; this one merges FIELD-WISE, which is what an MDM
    pipeline actually publishes):

      golden_id   = MIN(id)                      (stable anchor)
      text length = longest text, ties → MIN id  (most complete value)
      attr mode   = most frequent, ties → smallest value
      total_chars = SUM over members             (merge provenance)

    Scale shape — NO windows, NO joins: one (cluster, attr) pre-agg
    computes member counts and partial scalars; one cluster agg
    finishes, with the mode as MIN(struct(-count, attr)) over the
    pre-agg (struct ordering gives highest-count-then-smallest-value
    exactly) — the whole operator is two stacked hash aggregations on
    one key prefix.

    Returns (fingerprint, n_docs, golden_id, best_text_id,
    best_text_len, attr_mode, total_chars).
    """
    from pdcm_etl_spark.operators.text import add_fingerprint

    tagged = add_fingerprint(df, text_col=text_col).select(
        "fingerprint",
        F.col(id_col).alias("__id"),
        F.col(attr_col).alias("__attr"),
        F.length(F.col(text_col)).cast("bigint").alias("__len"),
    )
    pre = tagged.groupBy("fingerprint", "__attr").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt"),
        F.min("__id").alias("__min_id"),
        F.min(
            F.struct(
                (-F.col("__len")).alias("nl"), F.col("__id").alias("i")
            )
        ).alias("__best"),
        F.sum("__len").cast("decimal(38,0)").alias("__chars"),
    )
    return pre.groupBy("fingerprint").agg(
        F.sum("__cnt").cast("bigint").alias("n_docs"),
        F.min("__min_id").alias("golden_id"),
        F.min("__best").getField("i").alias("best_text_id"),
        (-F.min("__best").getField("nl")).cast("bigint").alias(
            "best_text_len"
        ),
        F.min(
            F.struct(
                (-F.col("__cnt")).alias("nc"), F.col("__attr").alias("v")
            )
        )
        .getField("v")
        .alias("attr_mode"),
        F.sum("__chars").cast("bigint").alias("total_chars"),
    )
