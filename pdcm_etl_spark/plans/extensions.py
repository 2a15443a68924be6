"""Extension query catalog: training-data-pipeline operators over the
documents / embeddings / events tables, wired into the driver contract.

Same (fn, oracle_sql_or_None) shape as plans/catalog.py. Entries whose
semantics are not SQL-expressible (LSH banding, SimHash, streaming,
mapInPandas decode) carry ``None`` → the driver records a rows-only check;
each of those still has a deterministic output so reruns are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators import dedup, ml, multimodal, similarity, text
from pdcm_etl_spark.plans.catalog import _t


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread across the session's cores. The test lake stores
    one parquet file per table → one input split → serial execution of the
    per-row heavy operators; a production lake has many splits. The
    repartition restores that parallelism locally — and is GATED on the
    actual split count so a production lake (splits ≥ cores) never pays a
    gratuitous shuffle of raw text."""
    df = _t(spark, sf_dir, "documents")
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.exact_dup_groups(docs)


SQL_DEDUP_EXACT = """
SELECT md5(lower(trim(text))) AS text_hash,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guard ON (max_shingle_freq=1000): a shingle shared by k docs yields
    k² candidate pairs, so ultra-common shingles must be dropped before
    pairing — the reference behavior users get at scale. The oracle
    mirrors the frequency filter as a CTE."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    return dedup.jaccard_pairs(sh, min_bp=2000, max_shingle_freq=1000)


SQL_DEDUP_NGRAM_JACCARD = """
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), sh AS (
  -- stop-shingle guard: drop shingles appearing in > 1000 docs (mirror of
  -- jaccard_pairs(max_shingle_freq=1000))
  SELECT sh0.doc_id, sh0.shingle FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000) f
  USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       CAST(FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) >= 2000
"""


def x_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *groups*: connected components over the exact-Jaccard pair
    graph (pairs ≥ 0.2 Jaccard), singletons included — the clustering step
    a dedup pipeline runs after pair generation to pick one keeper per
    group. Distributed min-label propagation (operators/graph.py); the
    oracle is a recursive-CTE reachability min in DuckDB."""
    from pdcm_etl_spark.operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    # guard ON — see x_dedup_ngram_jaccard
    pairs = dedup.jaccard_pairs(sh, min_bp=2000, max_shingle_freq=1000)
    # propagate only over the dup-graph endpoints (the near-dup sliver —
    # orders of magnitude smaller than the corpus), then left-join the
    # corpus so untouched docs come out as their own singleton group
    comp = connected_components(pairs, src="id_a", dst="id_b", node_col="id")
    return docs.select("doc_id").join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("group_id")
    )


SQL_DEDUP_GROUPS = """
WITH RECURSIVE ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000) f
  USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) >= 2000
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT e.b AS id, reach.r
  FROM reach JOIN edges e ON e.a = reach.id
)
SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id
"""


def x_dedup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_groups via the alternating large-star/small-star components
    algorithm (Kiveris et al. 2014; operators/graph._cc_star) — round
    count O(log² n) independent of component diameter, the 100 TB path
    for adversarial dup graphs. Same pair graph, same oracle as
    dedup_groups: the driver hash proves both methods agree."""
    from pdcm_etl_spark.operators.graph import connected_components

    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    pairs = dedup.jaccard_pairs(sh, min_bp=2000, max_shingle_freq=1000)
    comp = connected_components(
        pairs, src="id_a", dst="id_b", node_col="id", method="star"
    )
    return docs.select("doc_id").join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("group_id")
    )


def x_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection after near-dup grouping: per connected component,
    keep the highest-quality member (stopword ratio, then length, then
    min id — the curation policy real pipelines use instead of 'lowest
    id wins'). Window partitioned by group — groups are dup-sliver-sized,
    never corpus-sized, so no unpartitioned sort."""
    from pyspark.sql import Window

    groups = x_dedup_groups(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    q = text.add_quality_scores(docs.select("doc_id", "text")).select(
        "doc_id", "n_words", "stopword_bp"
    )
    j = groups.join(q, "doc_id")
    wsel = Window.partitionBy("group_id").orderBy(
        F.col("stopword_bp").desc(), F.col("n_words").desc(), F.col("doc_id").asc()
    )
    wcnt = Window.partitionBy("group_id")
    return (
        j.withColumn("rn", F.row_number().over(wsel))
        .withColumn("n_members", F.count(F.lit(1)).over(wcnt).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "group_id",
            F.col("doc_id").alias("keeper_id"),
            "n_members",
            "stopword_bp",
        )
    )


def _sql_dedup_keeper_quality() -> str:
    return f"""
WITH g AS (
{SQL_DEDUP_GROUPS.strip()}
), q AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(FLOOR(len(list_filter(w, x -> x IN ('the','a','of','and','is')))
              * 10000.0 / len(w)) AS BIGINT) AS stopword_bp
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
), j AS (
  SELECT g.group_id, g.doc_id, q.n_words, q.stopword_bp
  FROM g JOIN q USING (doc_id)
)
SELECT group_id, doc_id AS keeper_id, n_members, stopword_bp FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY group_id
           ORDER BY stopword_bp DESC, n_words DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY group_id) AS n_members
  FROM j
) WHERE rn = 1
"""


def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.minhash_dedup(docs, min_bp=2000)


# Both engines hash a string to the same 60-bit integer: first 15 hex chars
# of md5, parsed base-16 (Spark conv(...,16,10); DuckDB hex-digit fold).
_DUCK_H60 = dedup.DUCK_H60  # canonical definition lives beside portable_hash60


def _sql_dedup_minhash_lsh(
    num_perm: int = 32,
    bands: int = 8,
    min_bp: int = 2000,
    where: str = "",
) -> str:
    """Exact oracle for the MinHash+LSH pipeline: same 60-bit shingle
    digest, same (a*h+b) mod p permutations (constants imported from
    operators/dedup.py), same base-31 band fold, same candidate-only
    Jaccard verification. ``where`` (e.g. ``" WHERE <pred>"``) narrows
    the document scan — the sampled-recall harness's hook."""
    p = dedup.MINHASH_PRIME
    coeffs = dedup.minhash_perm_coeffs(num_perm)
    mins = ",\n         ".join(
        f"MIN(({a}*h + {b}) % {p}) AS s{i}" for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_perm // bands
    folds = []
    for band in range(bands):
        expr = f"s{band * rpb}"
        for j in range(1, rpb):
            expr = f"({expr}*31 + s{band * rpb + j})"
        folds.append(f"SELECT doc_id, {band} AS band, {expr} AS bh FROM sigs")
    banded = "\n  UNION ALL ".join(folds)
    h60 = _DUCK_H60.format(col="shingle")
    return f"""
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents{where}
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), hashed AS (
  SELECT doc_id, shingle, ({h60}) % {p} AS h FROM sh
), sigs AS (
  SELECT doc_id, {mins}
  FROM hashed GROUP BY doc_id
), banded AS (
  {banded}
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, inter,
       CAST(FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) >= {min_bp}
"""


def x_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup demo: docs with doc_id < 250 play the
    already-indexed corpus; the rest are the new ingest batch. Pairs
    between two indexed docs are pruned before verification
    (operators/dedup.py::minhash_dedup_incremental)."""
    docs = _docs(spark, sf_dir)
    return dedup.minhash_dedup_incremental(
        docs, F.col("doc_id") < 250, min_bp=2000
    )


def _sql_dedup_minhash_incremental(
    boundary: int = 250, num_perm: int = 32, bands: int = 8, min_bp: int = 2000
) -> str:
    """Oracle for the incremental pipeline: the plain MinHash-LSH oracle
    with existing×existing candidate pairs excluded and the is_new_pair
    flag attached."""
    p = dedup.MINHASH_PRIME
    coeffs = dedup.minhash_perm_coeffs(num_perm)
    mins = ",\n         ".join(
        f"MIN(({a}*h + {b}) % {p}) AS s{i}" for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_perm // bands
    folds = []
    for band in range(bands):
        expr = f"s{band * rpb}"
        for j in range(1, rpb):
            expr = f"({expr}*31 + s{band * rpb + j})"
        folds.append(f"SELECT doc_id, {band} AS band, {expr} AS bh FROM sigs")
    banded = "\n  UNION ALL ".join(folds)
    h60 = _DUCK_H60.format(col="shingle")
    return f"""
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), hashed AS (
  SELECT doc_id, shingle, ({h60}) % {p} AS h FROM sh
), sigs AS (
  SELECT doc_id, {mins}
  FROM hashed GROUP BY doc_id
), banded AS (
  {banded}
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
    AND NOT (a.doc_id < {boundary} AND b.doc_id < {boundary})
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, inter,
       CAST(FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_bp,
       (id_a >= {boundary} AND id_b >= {boundary}) AS is_new_pair
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) >= {min_bp}
"""


def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sims = dedup.simhash(docs)
    return dedup.simhash_near_pairs(sims, max_hamming=3)


def _sql_dedup_simhash(max_hamming: int = 3, bands: int = 4) -> str:
    """Exact oracle for SimHash near-dup pairs: same portable token
    digest, same sign-of-vote bits, same 15-bit band blocking, exact
    hamming via bit_count(xor)."""
    nbits = dedup.SIMHASH_BITS
    width = nbits // bands
    h60 = _DUCK_H60.format(col="tok")
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), hh AS (
  SELECT doc_id, {h60} AS h FROM toks
), votes AS (
  SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hh, (SELECT unnest(range({nbits})) AS bit)
  GROUP BY doc_id, bit
), sims AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {width})) & {(1 << width) - 1} AS bh
  FROM sims, (SELECT unnest(range({bands})) AS band)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


def x_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks. The synthetic
    embeddings' top in-block cosine is ~0.47, so the declared threshold
    sits at 0.40 to yield a non-empty, hash-verified result (production
    near-dup runs use ~0.9); the operator and oracle are unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb, min_ppm=400000)


SQL_DEDUP_EMBEDDING = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label AS blk,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(FLOOR(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS score_ppm
FROM v a JOIN v b ON a.blk = b.blk AND a.id < b.id
WHERE FLOOR(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000.0) >= 400000
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def x_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=10)


SQL_ANN_COSINE_TOPK = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
         CAST(FLOOR(list_dot_product(q.v, i.v) / (q.nrm * i.nrm) * 1000000.0) AS BIGINT) AS score_ppm
  FROM v i CROSS JOIN q WHERE i.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, score_ppm, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def x_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(emb, queries, k=10)


SQL_ANN_IVF_TOPK = """
WITH v AS (
  SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, q.cell AS cell, i.vec_id AS neighbor_id,
         CAST(FLOOR(list_dot_product(q.v, i.v) / (q.nrm * i.nrm) * 1000000.0) AS BIGINT) AS score_ppm
  FROM v i JOIN q ON i.cell = q.cell WHERE i.vec_id <> q.vec_id
)
SELECT query_id, cell, neighbor_id, score_ppm, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def x_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, queries, k=10, n_planes=8)


def _sql_ann_lsh_topk(k: int = 10, n_planes: int = 8, dim: int = 64) -> str:
    """Exact oracle for hyperplane-LSH top-k: the same literal ±1 plane
    matrix (similarity.hyperplane_signs) drives bucket assignment in both
    engines; exact cosine re-rank within the bucket."""
    signs = similarity.hyperplane_signs(n_planes, dim)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(str(s) for s in signs[p])}]) > 0 "
        f"THEN {1 << p}::BIGINT ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, v, nrm, {bucket_terms} AS bucket FROM v
), q AS (SELECT * FROM bucketed WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
         CAST(FLOOR(list_dot_product(q.v, i.v) / (q.nrm * i.nrm) * 1000000.0) AS BIGINT) AS score_ppm
  FROM bucketed i JOIN q ON i.bucket = q.bucket WHERE i.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, score_ppm, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def x_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.add_token_counts(docs).drop("text")


SQL_TEXT_TOKENS = """
SELECT doc_id,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
       CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                    w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_est
FROM documents
"""


def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.add_quality_scores(docs).drop("text")


SQL_TEXT_QUALITY = """
WITH base AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(w) AS BIGINT) AS n_words,
       CAST(len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS n_stopwords,
       CAST(FLOOR(len(list_filter(w, x -> x IN ('the','a','of','and','is'))) * 10000.0 / len(w)) AS BIGINT) AS stopword_bp,
       CAST(FLOOR(list_sum(list_transform(w, x -> CAST(len(x) AS BIGINT))) * 10000.0 / len(w)) AS BIGINT) AS mean_word_len_bp
FROM base
"""


def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.add_lang_id(docs).drop("text")


SQL_TEXT_LANGID = """
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), scored AS (
  SELECT doc_id,
    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
    CAST(len(list_filter(w, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS s_de,
    CAST(len(list_filter(w, x -> x IN ('le','la','et','les','est'))) AS BIGINT) AS s_fr,
    CAST(len(list_filter(w, x -> x IN ('el','los','y','una','es'))) AS BIGINT) AS s_es
  FROM base
)
SELECT doc_id, s_en, s_de, s_fr, s_es,
       CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'unknown' END AS pred_lang
FROM scored
"""


def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by rational tf-idf
    (operators/text.py::tfidf_top_terms) — exact across engines (no
    libm log at a floor boundary)."""
    docs = _docs(spark, sf_dir)
    return text.tfidf_top_terms(docs, k=3)


SQL_TEXT_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), doclen AS (
  SELECT doc_id, COUNT(*) AS doclen FROM toks GROUP BY 1
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(FLOOR(tf.tf * 10000.0 * n.n / (dfreq.df * doclen.doclen)) AS BIGINT)
           AS score_bp
  FROM tf JOIN doclen USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, score_bp, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score_bp DESC, term ASC
  ) AS rnk
  FROM scored
)
WHERE rnk <= 3
"""


def x_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction demo: the synthetic corpus carries no PII, so the
    query deterministically injects an email / phone / IPv4 per document
    (pure key arithmetic, mirrored in the oracle), then runs the generic
    scrubber (operators/text.py::scrub_pii)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did, F.lit("@example.com tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    return text.scrub_pii(injected)


SQL_TEXT_PII_SCRUB = r"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com tel 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.0.' || (doc_id % 256) || '.1' AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
  ) AS clean_text_md5
FROM injected
"""


def x_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: docs 0-19 stand in for the eval
    set; every other document reports how many distinct 8-gram shingles
    it shares with that set (operators/text.py::contamination_check —
    broadcast benchmark shingles, no corpus×benchmark pair space)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") < 20)
    rest = docs.filter(F.col("doc_id") >= 20)
    return text.contamination_check(rest, bench, n=8)


SQL_TEXT_CONTAMINATION = """
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 8), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 7, 0))) AS i FROM ws
  )
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
), hits AS (
  SELECT s.doc_id, COUNT(*) AS n
  FROM sh s JOIN bench USING (shingle)
  WHERE s.doc_id >= 20 GROUP BY 1
)
SELECT d.doc_id, COALESCE(n, 0) AS n_shared_shingles,
       COALESCE(n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
LEFT JOIN hits USING (doc_id)
"""


def x_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per document (duplicate-word and
    top-word fractions, basis points)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.add_repetition_metrics(docs)


SQL_TEXT_REPETITION = """
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
         unnest(w) AS word
  FROM ws
), pw AS (
  SELECT doc_id, n_words, n_distinct_words, word, COUNT(*) AS wc
  FROM base GROUP BY 1, 2, 3, 4
)
SELECT doc_id, n_words, n_distinct_words,
       CAST(FLOOR((n_words - n_distinct_words) * 10000.0 / n_words) AS BIGINT) AS dup_word_bp,
       CAST(FLOOR(MAX(wc) * 10000.0 / n_words) AS BIGINT) AS top_word_bp
FROM pw GROUP BY 1, 2, 3
"""


def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.add_fingerprint(docs).drop("text")


SQL_TEXT_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def x_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return multimodal.payload_metadata(docs)


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       sha256(text) AS payload_sha256
FROM documents
"""


def x_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage mapInPandas codec pipeline with a REAL byte-level
    decode (round-5: the stub is retired): stage 1 renders each document
    into an actual 8×8 24-bit BMP file (operators/multimodal._bmp_encode
    — headers, padding, bottom-up rows), stage 2 PARSES those BMP bytes
    back (magic + BITMAPINFOHEADER + padded row walk) seeing only the
    binary column. The oracle re-derives the expected features from the
    shared deterministic pixel rule (text_pixels: pixel i = codepoint of
    char i mod len, mod 256) — integer-exact, incl. a position-weighted
    checksum that pins pixel ORDER through the bottom-up round trip."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.decode_features(docs)


SQL_MULTIMODAL_DECODE = """
WITH px AS (
  SELECT doc_id,
         list_transform(range(64), i ->
           CASE WHEN length(coalesce(text, '')) = 0 THEN 0
                ELSE ord(substr(text,
                         CAST(i % length(text) + 1 AS INTEGER), 1)) % 256
           END) AS p
  FROM documents
)
SELECT doc_id,
       CAST(246 AS INTEGER) AS byte_len,
       CAST(8 AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bpp,
       CAST(list_sum(p) * 1000 // 64 AS BIGINT) AS mean_pixel_milli,
       CAST(list_sum(list_transform(range(64),
            i -> p[CAST(i + 1 AS INTEGER)] * (i + 1))) AS BIGINT)
         AS pixel_checksum
FROM px
"""


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def x_stream_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdcm_etl_spark.streaming.events_stream import run_availablenow

    return run_availablenow(spark, sf_dir)


def x_stream_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (2-day window / 1-day slide)
    — the moving-aggregate idiom; completes the window-family trio next
    to the tumbling (stream_events_daily) and session
    (stream_sessionize) paths."""
    from pdcm_etl_spark.streaming.events_stream import sliding_counts_stream

    return sliding_counts_stream(spark, sf_dir)


# every event lands in exactly 2 epoch-day-aligned sliding windows:
# start = trunc_day(ts) and trunc_day(ts) - 1 day
SQL_STREAM_EVENTS_SLIDING = """
WITH doubled AS (
  SELECT CAST(date_trunc('day', ts) - i * INTERVAL 1 DAY AS TIMESTAMP)
           AS win_start,
         event_type, value
  FROM events, (SELECT unnest([0, 1]) AS i)
)
SELECT win_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM doubled GROUP BY 1, 2
"""


def x_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window aggregation (2h gap) over events."""
    from pdcm_etl_spark.streaming.sessionize import sessionize_batch

    return sessionize_batch(_t(spark, sf_dir, "events"))


SQL_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro
FROM numbered GROUP BY user_id, session_id
"""


def x_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState.

    AvailableNow leaves the final open session per user in the state
    store (unclosed), so the output is the *closed* session set — fully
    deterministic and SQL-expressible after all: every lag+cumsum session
    EXCEPT each user's last. Values accumulate as per-event
    floor(v*1e6) integer micros in both engines, so the oracle is exact
    (hash-green), not rows-only as in rounds 1-2."""
    from pdcm_etl_spark.streaming.sessionize import sessionize_stream

    return sessionize_stream(spark, sf_dir)


SQL_STREAM_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), sess AS (
  SELECT user_id, session_id, MIN(ts) AS session_start,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micro
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, session_start, n_events, sum_value_micro
FROM (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS last_sid FROM sess
) WHERE session_id < last_sid
"""


def x_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over 16-byte payload frames via
    mapInPandas (1 row in → N frame rows out). The oracle re-derives the
    frame geometry from the text (payloads are UTF-8 of the ASCII-only
    fixture text, so byte and char offsets coincide)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return multimodal.sample_frames(docs, frame_bytes=16, every_k=4)


SQL_MULTIMODAL_FRAMES = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n FROM documents
), f AS (
  SELECT doc_id, text, n,
         unnest(range(0, CAST(ceil(n / 16.0) AS BIGINT), 4)) AS fi
  FROM t
)
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_index,
       CAST(least(16, n - fi * 16) AS INTEGER) AS frame_len,
       CAST(ord(substr(text, CAST(fi * 16 + 1 AS INTEGER), 1)) AS INTEGER) AS frame_head
FROM f
"""


def x_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-stride 'resize' plumbing (1:1 mapInPandas, binary in/out),
    summarised as lengths + 8-byte prefix for the oracle."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return multimodal.resize_payload(docs, stride=4)


SQL_MULTIMODAL_RESIZE = """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS orig_len,
       CAST(ceil(length(text) / 4.0) AS INTEGER) AS resized_len,
       array_to_string(
         list_transform(
           range(0, least(8, CAST(ceil(length(text) / 4.0) AS BIGINT))),
           i -> substr(text, CAST(i * 4 + 1 AS INTEGER), 1)
         ), ''
       ) AS resized_prefix
FROM documents
"""


def x_stream_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC: drain the event stream, merge each microbatch
    into the Type-2 dimension via scd2_merge, and commit it by writing
    ``snap_<batch_id>`` then atomically flipping the ``_LATEST``
    pointer. Single AvailableNow drain + latest-per-key compaction ⇒
    identical to the batch twin, so SQL_SCD2_MERGE is the exact oracle
    (streaming/events_stream.py::scd2_upsert_stream)."""
    from pdcm_etl_spark.streaming.events_stream import scd2_upsert_stream

    return scd2_upsert_stream(spark, sf_dir)


def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark — bounded
    state, key-set output (streaming/events_stream.py::dedup_stream)."""
    from pdcm_etl_spark.streaming.events_stream import dedup_stream

    return dedup_stream(spark, sf_dir)


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream range join (click→purchase attribution);
    see streaming/events_stream.py::attribution_stream_join."""
    from pdcm_etl_spark.streaming.events_stream import attribution_stream_join

    return attribution_stream_join(spark, sf_dir)


SQL_STREAM_STREAM_JOIN = """
SELECT c.event_id, c.user_id, c.ts AS click_ts, w.ts AS purchase_ts
FROM (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
) c
JOIN (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
) w ON c.user_id = w.user_id
   AND c.ts >= w.ts AND c.ts <= w.ts + INTERVAL 1 HOUR
"""


def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: every click event gets the most recent
    purchase (value + timestamp) by the same user at or before the click.
    Distributed as union + ordered window — one shuffle on user_id, no
    range explosion (operators/temporal.py). Oracle: DuckDB native ASOF
    LEFT JOIN over the same deduped purchase stream."""
    from pdcm_etl_spark.operators.temporal import asof_join
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # dedupe the right side per (user, ts): as-of tie-break among equal
    # timestamps is undefined in both engines, so make the key unique
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"], ts="ts").select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_ts").alias("purchase_ts"),
        F.col("r_purchase_value").alias("purchase_value"),
    )


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS purchase_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""


def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment: clicks landing inside the 1-hour attribution
    window after any purchase by the same user. Bucketed equi join + exact
    filter (operators/temporal.py) — never a nested-loop plan. Oracle:
    the plain inequality join (exact same semantics)."""
    from pdcm_etl_spark.operators.temporal import range_join_points_in_intervals
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    out = range_join_points_in_intervals(
        clicks, windows, on=["user_id"], bucket_seconds=3600
    )
    return out.select("event_id", "user_id", "ts", "start_ts", "end_ts")


SQL_RANGE_JOIN = """
SELECT c.event_id, c.user_id, c.ts, w.start_ts, w.end_ts
FROM (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
) c
JOIN (
  SELECT user_id, ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts
  FROM events WHERE event_type = 'purchase'
) w ON c.user_id = w.user_id AND c.ts >= w.start_ts AND c.ts <= w.end_ts
"""


def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample of the events stream: 10% of
    clicks, 50% of purchases, all errors — membership is a pure function
    of the event id's portable hash (operators/sampling.py), so the
    sample is identical across runs, partitionings, and engines."""
    from pdcm_etl_spark.operators.sampling import hash_stratified_sample
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    out = hash_stratified_sample(
        ev, "event_type", "event_id",
        {"click": 1000, "purchase": 5000, "error": 10000},
    )
    return out.select("event_id", "user_id", "event_type", "ts")


_H60_EVENT = _DUCK_H60.format(col="CAST(event_id AS VARCHAR)")

SQL_SAMPLE_STRATIFIED = f"""
SELECT event_id, user_id, event_type, ts
FROM events
WHERE ({_H60_EVENT}) % 10000 <
      CASE event_type WHEN 'click' THEN 1000 WHEN 'purchase' THEN 5000
                      WHEN 'error' THEN 10000 ELSE 0 END
"""


def x_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation flow as ONE composed plan:
    quality gate (length + stopword ratio) → exact-dup keeper filter →
    deterministic 50% sample. Every stage is an already-oracled operator;
    the composition itself is the point — one Catalyst plan, no
    materialization between stages."""
    from pdcm_etl_spark.operators.sampling import hash_sample

    docs = _docs(spark, sf_dir)
    q = text.add_quality_scores(docs.select("doc_id", "text"))
    good = q.filter((F.col("n_words") >= 30) & (F.col("stopword_bp") >= 100))
    keepers = dedup.exact_dup_groups(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    kept = good.join(keepers, "doc_id", "left_semi")
    return hash_sample(kept, "doc_id", 5000).select(
        "doc_id", "n_words", "stopword_bp"
    )


_H60_DOC = _DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")

SQL_CORPUS_CURATION = f"""
WITH base AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents
), q AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(FLOOR(len(list_filter(w, x -> x IN ('the','a','of','and','is')))
              * 10000.0 / len(w)) AS BIGINT) AS stopword_bp
  FROM base
), keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM documents
  GROUP BY md5(lower(trim(text)))
)
SELECT q.doc_id, q.n_words, q.stopword_bp
FROM q
JOIN keepers USING (doc_id)
WHERE q.n_words >= 30 AND q.stopword_bp >= 100
  AND ({_H60_DOC}) % 10000 < 5000
"""


def x_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means over the embeddings table: one
    full Lloyd round (seed-assign -> integer-exact centroid update ->
    reassign), k=4 — no RNG, decimal/integer centroid means so the
    FP-iterative algorithm hash-matches the pure-SQL oracle exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign(emb, k=4, iterations=1)


def _sql_kmeans_chain(
    k_sql: str = "4", iterations: int = 1, dim: int = 64
) -> tuple[str, str]:
    """CTE chain replicating operators/similarity.kmeans_fit exactly for
    any (k, iterations): seed = first k vectors by id, per-round argmin
    assignment (ties to lower cid) + DECIMAL(28,9) nano-unit floor-mean
    centroid update, final assignment with the last centroids. ``k_sql``
    may be a scalar subquery (e.g. ceil(sqrt(COUNT(*)))), so the oracle
    follows a data-derived k without re-registration."""
    sq = (
        f"list_reduce(list_transform(range({dim}), i -> "
        "(CAST(e.embedding[i+1] AS DOUBLE) - s.cv[i+1]) * "
        "(CAST(e.embedding[i+1] AS DOUBLE) - s.cv[i+1])), (a,b) -> a + b)"
    )
    parts = [
        f"""seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k_sql})
)"""
    ]
    prev = "seeds"
    for i in range(1, iterations + 1):
        parts.append(
            f"""d{i} AS (
  SELECT e.vec_id, e.embedding, s.cid, {sq} AS dist
  FROM embeddings e CROSS JOIN {prev} s
), a{i} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d{i}
  ) WHERE rn = 1
), m{i} AS (
  SELECT cid, i AS pos,
         CAST(SUM(CAST(CAST(embedding[i+1] AS DOUBLE) AS DECIMAL(28,9))) * 1000000000 AS BIGINT) AS s_nano,
         COUNT(*) AS n
  FROM a{i}, (SELECT unnest(range({dim})) AS i)
  GROUP BY 1, 2
), c{i} AS (
  SELECT cid,
         list((s_nano - ((s_nano % n) + n) % n) // n / 1000000000.0 ORDER BY pos) AS cv
  FROM m{i} GROUP BY cid
)"""
        )
        prev = f"c{i}"
    fi = iterations + 1
    parts.append(
        f"""d{fi} AS (
  SELECT e.vec_id, s.cid, {sq} AS dist
  FROM embeddings e CROSS JOIN {prev} s
), a{fi} AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d{fi}
  ) WHERE rn = 1
)"""
    )
    return ",\n".join(parts), f"a{fi}"


def _sql_kmeans_assign(k_sql: str = "4", iterations: int = 1) -> str:
    ctes, final = _sql_kmeans_chain(k_sql, iterations)
    return f"WITH {ctes}\nSELECT vec_id, CAST(cid AS INTEGER) AS cid FROM {final}"


SQL_KMEANS_ASSIGN = _sql_kmeans_assign("4", 1)


def x_kmeans_assign_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-k assignment path forced on: centroids ride a broadcast
    table (G grouped rows, BroadcastHashJoin — never a from_json plan
    literal, never a BroadcastNestedLoopJoin) + min(struct(dist, cid))
    argmin (operators/similarity.kmeans_fit::assign_broadcast). Same
    oracle as the literal path — the driver hash proves the two plans
    are bit-identical; the plan shape is pinned in test_plan_shapes."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign(
        emb, k=8, iterations=1, assign_method="broadcast"
    )


SQL_KMEANS_ASSIGN_BCAST = _sql_kmeans_assign("8", 1)


def x_ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF recipe: k-means-trained cells + 2-probe search + exact
    in-cell re-rank (operators/similarity.py::ivf_trained_topk). The
    oracle recomputes the identical deterministic Lloyd round in SQL and
    probes the same cells."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_trained_topk(
        emb, queries, k=10, n_cells=4, n_probe=2, iterations=1
    )


SQL_ANN_IVF_TRAINED_TOPK = """
WITH seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)
), d1 AS (
  SELECT e.vec_id, e.embedding, s.cid,
         list_reduce(list_transform(range(64), i -> (CAST(e.embedding[i+1] AS DOUBLE) - s.cv[i+1]) * (CAST(e.embedding[i+1] AS DOUBLE) - s.cv[i+1])), (a,b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN seeds s
), a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d1
  ) WHERE rn = 1
), m1 AS (
  SELECT cid, i AS pos,
         CAST(SUM(CAST(CAST(embedding[i+1] AS DOUBLE) AS DECIMAL(28,9))) * 1000000000 AS BIGINT) AS s_nano,
         COUNT(*) AS n
  FROM a1, (SELECT unnest(range(64)) AS i)
  GROUP BY 1, 2
), c1 AS (
  SELECT cid,
         list((s_nano - ((s_nano % n) + n) % n) // n / 1000000000.0 ORDER BY pos) AS cv
  FROM m1 GROUP BY cid
), d2 AS (
  SELECT e.vec_id, s.cid,
         list_reduce(list_transform(range(64), i -> (CAST(e.embedding[i+1] AS DOUBLE) - s.cv[i+1]) * (CAST(e.embedding[i+1] AS DOUBLE) - s.cv[i+1])), (a,b) -> a + b) AS dist
  FROM embeddings e CROSS JOIN c1 s
), a2 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
    FROM d2
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 5
), qd AS (
  SELECT q.query_id, s.cid,
         list_reduce(list_transform(range(64), i -> (q.qv[i+1] - s.cv[i+1]) * (q.qv[i+1] - s.cv[i+1])), (a,b) -> a + b) AS dist
  FROM q CROSS JOIN c1 s
), probes AS (
  SELECT query_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY dist ASC, cid ASC) AS rn
    FROM qd
  ) WHERE rn <= 2
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), scored AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id,
         CAST(FLOOR(list_dot_product(qv.v, iv.v) / (qv.nrm * iv.nrm) * 1000000.0) AS BIGINT) AS score_ppm
  FROM probes p
  JOIN a2 ON a2.cid = p.cid AND a2.vec_id <> p.query_id
  JOIN v qv ON qv.vec_id = p.query_id
  JOIN v iv ON iv.vec_id = a2.vec_id
)
SELECT query_id, neighbor_id, score_ppm, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_ppm DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: shard-parallel contiguous fill
    of 2048-token bins in deterministic id order."""
    docs = _docs(spark, sf_dir)
    return text.pack_documents(docs, token_budget=2048, n_shards=8)


_H60_DOCID = _DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")

SQL_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         ({_H60_DOCID}) % 8 AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM toks
WINDOW w AS (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def x_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality filtering: keep the top decile of docs by
    stopword ratio, with the exact percent_rank basis points attached.

    Planned WITHOUT a global unpartitioned window (the single-partition
    sort that floods WindowExec warnings and dies at 100 TB): the
    two-pass histogram + threshold + partitioned-rank operator
    (operators/sampling.py::top_percentile_filter) produces bit-identical
    output to the naive PERCENT_RANK() OVER (ORDER BY ...) form the
    DuckDB oracle keeps."""
    from pdcm_etl_spark.operators.sampling import top_percentile_filter

    docs = _docs(spark, sf_dir)
    q = text.add_quality_scores(docs.select("doc_id", "text"))
    out = top_percentile_filter(
        q.select("doc_id", "stopword_bp"), "stopword_bp", "doc_id", min_pr_bp=9000
    )
    return out.select("doc_id", "stopword_bp", "pr_bp")


SQL_QUALITY_PERCENTILE = """
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), q AS (
  SELECT doc_id,
         CAST(FLOOR(len(list_filter(w, x -> x IN ('the','a','of','and','is')))
              * 10000.0 / len(w)) AS BIGINT) AS stopword_bp
  FROM base
)
SELECT doc_id, stopword_bp, pr_bp FROM (
  SELECT doc_id, stopword_bp,
         CAST(FLOOR(PERCENT_RANK() OVER (
           ORDER BY stopword_bp ASC, doc_id ASC) * 10000) AS BIGINT) AS pr_bp
  FROM q
) WHERE pr_bp >= 9000
"""


SQL_STREAM_EVENTS_DAILY = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_micro
FROM events GROUP BY 1, 2
"""


def x_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension merge (operators/cdc.py): seed the dimension with
    each user's FIRST event (open row), merge the batch of LAST events —
    users whose type changed get their first row closed at the update
    timestamp plus a new open row; unchanged users keep one open row."""
    from pyspark.sql import Window

    from pdcm_etl_spark.operators import cdc
    from pdcm_etl_spark.plans.catalog import load_events

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


def x_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF index against the exact brute-force baseline
    — the evaluation harness every ANN parameter change should re-run.
    Composes the two declared searches; the oracle composes their CTEs."""
    from pdcm_etl_spark.operators.sharing import shared

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # the exact result is (k × queries)-sized but consumed twice by
    # topk_recall (the hit semi-join probe + its own per-query count) —
    # without sharing, the whole brute-force search re-runs per
    # consumer (6 embeddings scans in the r11 sweep → 4). approx has
    # one consumer; no boundary needed.
    approx = similarity.ivf_topk(emb, queries, k=10)
    exact = shared(similarity.cosine_topk(emb, queries, k=10))
    return similarity.topk_recall(approx, exact)


SQL_ANN_RECALL = """
WITH v AS (
  SELECT vec_id, label AS cell, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), q AS (SELECT * FROM v WHERE vec_id < 5),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY FLOOR(list_dot_product(q.v, i.v) / (q.nrm * i.nrm) * 1000000.0) DESC,
                      i.vec_id ASC) AS rank
    FROM v i CROSS JOIN q WHERE i.vec_id <> q.vec_id
  ) WHERE rank <= 10
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY FLOOR(list_dot_product(q.v, i.v) / (q.nrm * i.nrm) * 1000000.0) DESC,
                      i.vec_id ASC) AS rank
    FROM v i JOIN q ON i.cell = q.cell WHERE i.vec_id <> q.vec_id
  ) WHERE rank <= 10
), hits AS (
  SELECT a.query_id, COUNT(*) AS n_found
  FROM approx a JOIN exact e USING (query_id, neighbor_id)
  GROUP BY a.query_id
)
SELECT e.query_id, COUNT(*) AS n_exact,
       COALESCE(ANY_VALUE(h.n_found), 0) AS n_found,
       CAST(FLOOR(COALESCE(ANY_VALUE(h.n_found), 0) * 10000.0 / COUNT(*)) AS BIGINT) AS recall_bp
FROM exact e LEFT JOIN hits h ON h.query_id = e.query_id
GROUP BY e.query_id
"""


def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic k-means clusters as
    the blocking structure, within-cluster cosine, remove any vector with
    a smaller-id neighbor >= threshold (0.40 here — the synthetic
    embeddings' top in-cluster cosine is ~0.47; production uses ~0.9).

    Representative regime (round-3 verdict item 8): k = ⌈√n⌉ scales the
    cluster count with the corpus so per-cluster populations stay bounded
    (SemDeDup's own recipe), with 2 full Lloyd rounds; the oracle derives
    the same k from COUNT(*) in SQL so it follows without
    re-registration. n comes from a count() — a scalar aggregate, not a
    data-sized collect."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    k = int(math.ceil(math.sqrt(emb.count())))
    return similarity.semantic_dedup(emb, k=k, iterations=2, min_ppm=400000)


# composed oracle: the exact k-means assignment CTE chain (k=⌈√n⌉ via a
# scalar subquery, 2 Lloyd rounds — mirrors x_dedup_semantic) +
# within-cluster pair scan + smaller-id-neighbor rule
def _sql_dedup_semantic() -> str:
    ctes, final = _sql_kmeans_chain(
        "(SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) FROM embeddings)",
        iterations=2,
    )
    return f"""
WITH {ctes},
assign AS (
  SELECT vec_id, CAST(cid AS INTEGER) AS cid FROM {final}
), v AS (
  SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v, a.cid,
         sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[]))) AS nrm
  FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
), removed AS (
  SELECT DISTINCT b.id
  FROM v a JOIN v b ON a.cid = b.cid AND a.id < b.id
  WHERE FLOOR(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 1000000.0) >= 400000
)
SELECT a.vec_id, a.cid, (r.id IS NOT NULL) AS removed
FROM assign a LEFT JOIN removed r ON r.id = a.vec_id
"""


def x_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking with overlap (128-token windows, 32-token
    overlap) — the LLM context-window preprocessing step. One output row
    per chunk; no shuffle (chunk starts via sequence + posexplode)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.chunk_documents(docs, chunk_size=128, overlap=32)


SQL_TEXT_CHUNK = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(1, greatest(len(toks) - 32, 1), 96)) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) // 96 AS BIGINT) AS chunk_index,
       array_to_string(list_slice(toks, start, start + 127), ' ') AS chunk_text,
       CAST(least(128, n - start + 1) AS BIGINT) AS chunk_tokens
FROM s
"""


def x_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — the vocabulary-statistics pass
    before tokenizer training / contamination screens. Deterministic
    total order (count desc, ngram asc) → TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir).select("text")
    counts = text.ngram_counts(docs, n=2)
    return counts.orderBy(F.col("n").desc(), F.col("ngram")).limit(20)


SQL_NGRAM_TOPK = """
WITH w AS (
  SELECT string_split(lower(text), ' ') AS ws FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i + 1])) AS ngram
  FROM w
)
SELECT ngram, COUNT(*) AS n FROM g GROUP BY ngram
ORDER BY n DESC, ngram LIMIT 20
"""


def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus word stream
    (operators/sketches.heavy_hitters): the real Spark CMS aggregate is
    built and queried; the oracle pins the exact top-20 plus the
    sketch's one-sided-error and eps-bound guarantees as TRUE (the
    approx_distinct pattern — sketch internals aren't engine-portable,
    the sketch CONTRACT is)."""
    from pdcm_etl_spark.operators import sketches

    docs = _docs(spark, sf_dir).select("text")
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
    from pdcm_etl_spark.operators import sketches

    li = _t(spark, sf_dir, "lineitem")
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


def x_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of distributed BPE training statistics: corpus word
    frequencies → per-vocabulary-word adjacent character pairs weighted
    by frequency → global top-50 merge candidates."""
    docs = _docs(spark, sf_dir).select("text")
    return text.bpe_pair_counts(docs, top_k=50)


SQL_BPE_PAIR_COUNTS = """
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  ) WHERE w != '' GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substring(w, i, 2))) AS pair, freq
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT 50
"""


def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative BPE trainer, 4 merge rounds — returns the merge
    table. Driver loop with one 1-row collect per round; all heavy work
    vocabulary-sized (operators/text.py::bpe_train)."""
    docs = _docs(spark, sf_dir).select("text")
    return text.bpe_train(docs, n_merges=4)


def _sql_bpe_train(n_merges: int = 4) -> str:
    """Generated N-round oracle for bpe_train. Per round: pair counts
    over the vocabulary → 1-row winner (n DESC, a, b) → greedy
    left-to-right merge applied POSITIONALLY: within each run of
    consecutive matches (only possible when a==b) keep alternating ones
    (gaps-and-islands + row_number parity), drop the position after a
    kept match, rebuild the symbol list in position order."""
    parts = [
        """v0 AS (
  SELECT w, freq,
         list_transform(range(length(w)), i -> substring(w, i + 1, 1)) AS syms
  FROM (
    SELECT w, COUNT(*) AS freq FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ) WHERE w != '' GROUP BY w
  )
)"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(
            f"""p{r} AS (
  SELECT syms[i + 1] AS a, syms[i + 2] AS b, freq
  FROM (SELECT freq, syms, unnest(range(len(syms) - 1)) AS i
        FROM v{p} WHERE len(syms) >= 2)
), w{r} AS (
  SELECT a, b, a || b AS merged, CAST(SUM(freq) AS BIGINT) AS n
  FROM p{r} GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1
), m{r} AS (
  SELECT e.w, e.freq, e.i, e.syms[e.i + 1] AS sym,
         COALESCE(e.i < len(e.syms) - 1 AND e.syms[e.i + 1] = wr.a
          AND e.syms[e.i + 2] = wr.b, FALSE) AS is_match
  FROM (SELECT w, freq, syms, unnest(range(len(syms))) AS i FROM v{p}) e
       LEFT JOIN w{r} wr ON TRUE
), k{r} AS (
  SELECT *, CASE WHEN is_match THEN
      (ROW_NUMBER() OVER (PARTITION BY w, is_match, grp ORDER BY i)) % 2 = 1
    ELSE FALSE END AS kept
  FROM (
    SELECT *, i - ROW_NUMBER() OVER (PARTITION BY w, is_match ORDER BY i)
           AS grp
    FROM m{r})
), v{r} AS (
  SELECT w, MIN(freq) AS freq,
         list(CASE WHEN kept THEN (SELECT merged FROM w{r}) ELSE sym END
              ORDER BY i)
           FILTER (WHERE NOT prev_kept) AS syms
  FROM (
    SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY w ORDER BY i), FALSE)
           AS prev_kept
    FROM k{r})
  GROUP BY w
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS r, a, b, merged, n FROM w{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with a freshly-trained 4-merge BPE table: per
    document, token count and chars-per-token compression. All heavy
    work vocabulary-sized (one word join; no per-doc re-merging)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.bpe_encode(docs, n_merges=4)


def _sql_bpe_encode(n_merges: int = 4) -> str:
    """Oracle: the generated bpe_train chain's final vocabulary v{N}
    joined back to the corpus words; integer-exact compression ratio."""
    chain = _sql_bpe_train(n_merges)
    ctes = chain.split("\nSELECT CAST(1 AS INTEGER)")[0]
    return f"""{ctes},
dw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
)
SELECT d.doc_id AS id, COUNT(*) AS n_words,
       CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens,
       CAST(SUM(len(v.syms)) * 10000 // SUM(length(d.w)) AS BIGINT)
         AS compression_bp
FROM dw d JOIN v{n_merges} v USING (w)
WHERE d.w != ''
GROUP BY d.doc_id
"""


def x_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (the CCNet LM-filter shape,
    self-trained): per document, mean word corpus-frequency in ppm +
    hapax share + rarest word count. Integer-quantized so the oracle is
    exact; one vocab agg + one word join + one doc agg."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.unigram_lm_score(docs)


SQL_UNIGRAM_LM_SCORE = """
WITH dw AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
dwf AS (SELECT * FROM dw WHERE w != ''),
vocab AS (SELECT w, COUNT(*) AS c FROM dwf GROUP BY w),
sv AS (
  SELECT w, c,
         (c * 1000000) // (SELECT SUM(c) FROM vocab) AS f_ppm
  FROM vocab
)
SELECT d.id AS doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(s.f_ppm) // COUNT(*) AS BIGINT) AS lm_score_ppm,
       CAST(SUM(CASE WHEN s.c = 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS hapax_bp,
       CAST(MIN(s.c) AS BIGINT) AS rarest_count
FROM dwf d JOIN sv s USING (w)
GROUP BY d.id
"""


def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → postings inverted index: per term df/cf + the 10 smallest
    doc ids as a comma string. The per-term top-k is two-level
    (term, doc-range bucket) windows — bounded under hot stop-terms."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.inverted_index(docs)


SQL_INVERTED_INDEX = """
WITH dw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
dwf AS (SELECT * FROM dw WHERE term != ''),
stats AS (
  SELECT term, COUNT(*) AS cf, COUNT(DISTINCT doc_id) AS df
  FROM dwf GROUP BY term
),
pairs AS (SELECT DISTINCT term, doc_id FROM dwf),
topp AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM pairs
  ) WHERE rn <= 10
),
postings AS (
  SELECT term,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM topp GROUP BY term
)
SELECT s.term, s.df, s.cf, p.postings
FROM stats s JOIN postings p USING (term)
WHERE s.df >= 3
"""


def x_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a quality-classifier decision stump per feature (predicting
    lang='en' from n_chars / n_words / avg-word-length-×10) under exact
    0-1 loss — the distributed-tree-training primitive. Histogram-sized
    candidate scan, integer-exact argmin, exact oracle."""
    docs = _docs(spark, sf_dir)
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


def x_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order the events table on (user bucket, day bucket) and emit the
    per-file footer statistics a skipping engine prunes with. Map-side
    bit arithmetic + one bounded statistics agg; the oracle replays the
    identical Morton interleave in SQL."""
    from pdcm_etl_spark.operators.layout import zorder_stats
    from pdcm_etl_spark.plans.catalog import load_events

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


def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank over a synthetic two-edge-per-node
    directed graph on the part keys (tree edge k→k div 10 + a scatter
    edge k→1+((31k+7) mod N)) — the iterative-graph-algorithm primitive
    beyond closure/components. 3 budgeted sweeps; generated N-round SQL
    oracle, bit-exact."""
    from pdcm_etl_spark.operators.graph import pagerank

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
    return pagerank(e1.unionByName(e2), iterations=3)


def _sql_pagerank(iterations: int = 3) -> str:
    """Oracle: the same integer-floored PageRank recurrence as a
    generated CTE chain — one contribution + one rank CTE per round."""
    parts = [
        """pk AS (
  SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey >= 1
)""",
        """edges AS (
  SELECT k AS src, k // 10 AS dst FROM pk WHERE k // 10 >= 1
  UNION ALL
  SELECT k, 1 + ((k * 31 + 7) % (SELECT COUNT(*) FROM pk)) FROM pk
)""",
        """outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)""",
        """nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)""",
        """pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)""",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"""c{t} AS (
  SELECT e.dst AS node,
         SUM((p.pr * 85) // (100 * o.outdeg)) AS inflow
  FROM edges e
  JOIN pr{t - 1} p ON p.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
)""",
        )
        parts.append(
            f"""pr{t} AS (
  SELECT n.node, CAST(150000 + COALESCE(c.inflow, 0) AS BIGINT) AS pr
  FROM nodes n LEFT JOIN c{t} c ON c.node = n.node
)""",
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, pr AS pr_micro FROM pr{iterations}"
    )


def x_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → view → click → purchase ordered funnel per user: each
    stage's earliest time strictly after the previous stage's. k-deep
    chain of user-keyed filtered MIN aggregations — no history windows,
    no collects."""
    from pdcm_etl_spark.operators.temporal import funnel_stages
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    return funnel_stages(ev, ["signup", "view", "click", "purchase"])


SQL_FUNNEL_STAGES = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t_1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t_1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t_2
  GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, MIN(e.ts) AS t_4
  FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t_3
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3, s4.t_4,
       CAST(CASE WHEN s1.t_1 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s2.t_2 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s3.t_3 IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN s4.t_4 IS NOT NULL THEN 1 ELSE 0 END
          AS INTEGER) AS stages_reached
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id
LEFT JOIN s4 ON s4.user_id = s1.user_id
"""


def x_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-activity-week cohorts × week-offset active-user counts (the
    growth-analytics retention triangle). Engine-neutral integer week
    bucketing (epoch-day div 7)."""
    from pdcm_etl_spark.operators.temporal import cohort_retention
    from pdcm_etl_spark.plans.catalog import load_events

    return cohort_retention(load_events(spark, sf_dir))


SQL_COHORT_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id AS u,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS INTEGER) AS week
  FROM events
),
first AS (SELECT u, MIN(week) AS cohort_week FROM activity GROUP BY u)
SELECT f.cohort_week,
       a.week - f.cohort_week AS week_offset,
       COUNT(DISTINCT a.u) AS n_users
FROM activity a JOIN first f USING (u)
GROUP BY f.cohort_week, week_offset
"""


def x_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-dup pairs: (prefix, length-bucket)
    blocking + hot-block anti-join guard, distance only on candidates.
    Exact oracle — both engines implement standard edit distance."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return dedup.edit_distance_pairs(docs)


SQL_DEDUP_EDIT_DISTANCE = """
WITH keyed AS (
  SELECT doc_id AS id, lower(trim(text)) AS t,
         substring(lower(trim(text)), 1, 16) AS pfx,
         length(text) // 64 AS lb
  FROM documents
),
blocks AS (SELECT pfx, lb, COUNT(*) AS n FROM keyed GROUP BY pfx, lb),
guarded AS (
  SELECT k.id, k.t, k.pfx, k.lb
  FROM keyed k JOIN blocks b USING (pfx, lb)
  WHERE b.n <= 200
)
SELECT a.id AS id_1, b.id AS id_2,
       CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
FROM guarded a JOIN guarded b USING (pfx, lb)
WHERE a.id < b.id AND levenshtein(a.t, b.t) <= 16
"""


def x_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup (arXiv:1911.00359): 16-word
    segments deduped across the whole corpus (first occurrence by
    (doc_id, position) wins), documents reassembled from surviving
    segments. One digest shuffle + digest-partitioned window."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return dedup.paragraph_dedup(docs, seg_words=16)


SQL_DEDUP_PARAGRAPH = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), idx AS (
  SELECT doc_id, ws,
         unnest(range(CAST(ceil(len(ws) / 16.0) AS BIGINT))) AS seg_idx
  FROM w
), segs AS (
  SELECT doc_id, seg_idx,
         array_to_string(ws[seg_idx*16+1 : seg_idx*16+16], ' ') AS seg
  FROM idx
), flagged AS (
  SELECT doc_id, seg_idx, seg,
         ROW_NUMBER() OVER (PARTITION BY md5(seg)
                            ORDER BY doc_id, seg_idx) = 1 AS kept
  FROM segs
)
SELECT doc_id AS id, COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(array_to_string(list(seg ORDER BY seg_idx)
                                FILTER (WHERE kept), ' '), '') AS kept_text
FROM flagged GROUP BY doc_id
"""


def x_sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain re-balancing (training-data mixing): per-source target
    weights (here (src# % 4) + 1) → deterministic hash keep-rates
    approximating a 50% budget distributed ∝ weight. Broadcast rate
    table + map-side hash filter; no data-sized shuffle."""
    from pdcm_etl_spark.operators.sampling import domain_mix_sample

    docs = _docs(spark, sf_dir)
    w = (F.substring("source", 4, 10).cast("bigint") % 4) + 1
    return domain_mix_sample(
        docs, key_col="doc_id", domain_col="source",
        weight_expr=w, budget_ppm=500_000,
    )


_H60_DOCID_MIX = _DUCK_H60.format(col="CAST(d.doc_id AS VARCHAR)")
SQL_SAMPLE_DOMAIN_MIX = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n,
         (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS w
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(SUM(w) AS BIGINT) AS w_tot
  FROM counts
), rates AS (
  SELECT source, CAST(w AS BIGINT) AS weight,
         CAST(LEAST(1000000, (500000 * w * n_tot) // (w_tot * n)) AS BIGINT)
           AS rate_ppm
  FROM counts, tot
)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, r.weight, r.rate_ppm
FROM documents d JOIN rates r USING (source)
WHERE {_H60_DOCID_MIX} % 1000000 < r.rate_ppm
"""


def x_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment (training-data
    export order): shard from the portable 60-bit key hash, position
    from a per-shard (parallel) window — reproducible across runs,
    partitionings and engines, unlike orderBy(rand())."""
    from pdcm_etl_spark.operators.sampling import shuffle_shards

    docs = _docs(spark, sf_dir).select("doc_id")
    return shuffle_shards(docs, "doc_id", n_shards=8)


_H60_DOCID = _DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")
SQL_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id, {_H60_DOCID} AS hh FROM documents
)
SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
            AS INTEGER) AS pos
FROM h
"""


def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a synthetic bounded-degree graph on
    the part keys (path edge k→k+1, skip edge k→k+2 — these two alone
    tile the line with triangles — plus a scatter edge
    k→1+((7k+3) mod N) for irregularity). Degree-oriented wedge
    generation (O(m^1.5) even under skew); the oracle counts the same
    triangles via the canonical a<b<c triple join."""
    from pdcm_etl_spark.operators.graph import triangle_count

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") >= 1)
    n = part.count()  # scalar — the graph's node-count modulus
    pk = part.select(F.col("p_partkey").cast("bigint").alias("k"))
    e1 = pk.filter(F.expr(f"k + 1 <= {n}")).select(
        F.col("k").alias("src"), F.expr("k + 1").alias("dst")
    )
    e2 = pk.filter(F.expr(f"k + 2 <= {n}")).select(
        F.col("k").alias("src"), F.expr("k + 2").alias("dst")
    )
    e3 = pk.select(
        F.col("k").alias("src"), F.expr(f"1 + ((7 * k + 3) % {n})").alias("dst")
    )
    return triangle_count(e1.unionByName(e2).unionByName(e3))


SQL_TRIANGLE_COUNT = """
WITH nn AS (SELECT COUNT(*) AS n FROM part WHERE p_partkey >= 1),
pk AS (
  SELECT CAST(p_partkey AS BIGINT) AS k FROM part WHERE p_partkey >= 1
),
raw AS (
  SELECT k AS u, k + 1 AS v FROM pk, nn WHERE k + 1 <= nn.n
  UNION ALL
  SELECT k, k + 2 FROM pk, nn WHERE k + 2 <= nn.n
  UNION ALL
  SELECT k, 1 + ((7 * k + 3) % nn.n) FROM pk, nn
),
e AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
  FROM raw WHERE u <> v
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, COUNT(*) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
"""


def x_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemsets over orders: parts co-ordered in the
    same order, support >= 2, integer-ppm lift. Basket-size guard via
    anti-join; total-basket scalar via a broadcast one-row join."""
    from pdcm_etl_spark.operators.assoc import itemset_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
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


def x_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily calendar densification + forward fill per event_type:
    zero-filled counts, carried-forward decimal-exact micro sums,
    epoch-day integer axis."""
    from pdcm_etl_spark.operators.temporal import gapfill_daily
    from pdcm_etl_spark.plans.catalog import load_events

    return gapfill_daily(load_events(spark, sf_dir))


SQL_TIMESERIES_GAPFILL = """
WITH daily AS (
  SELECT event_type AS key,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS INTEGER) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
           AS sum_value_micro
  FROM events GROUP BY 1, 2
),
span AS (SELECT key, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY key),
cal AS (
  SELECT key, CAST(unnest(range(d0, d1 + 1)) AS INTEGER) AS day FROM span
)
SELECT c.key AS event_type, c.day,
       COALESCE(d.n_events, 0) AS n_events,
       LAST_VALUE(d.sum_value_micro IGNORE NULLS) OVER (
         PARTITION BY c.key ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_value_micro
FROM cal c LEFT JOIN daily d USING (key, day)
"""


def x_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers on the event value (micro-quantized) per
    event_type: discrete integer quartiles (position-picked, tie-broken
    by event_id), k=3 fences, all-integer arithmetic — exact."""
    from pdcm_etl_spark.operators.ml import iqr_outliers
    from pdcm_etl_spark.plans.catalog import load_events

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


def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-containment near-dups (short doc embedded in a
    long one — Jaccard-blind): same guarded in-bucket candidates as
    jaccard, integer-ppm containment both directions, keep pairs with
    max direction >= 0.5."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    return dedup.containment_pairs(sh, min_ppm=500_000, max_shingle_freq=1000)


SQL_DEDUP_CONTAINMENT = """
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000) f
  USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       CAST((1000000 * inter) // sa.sz AS BIGINT) AS cont_a_ppm,
       CAST((1000000 * inter) // sb.sz AS BIGINT) AS cont_b_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest((1000000 * inter) // sa.sz, (1000000 * inter) // sb.sz)
      >= 500000
"""


def x_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of parts minimizing (retail price, size): distinct
    points not dominated by any cheaper-and-smaller point. Bucketed
    prefix-min plan (O(n log n)); the oracle is the textbook NOT EXISTS
    definition — feasible only at test scale, which is the point."""
    from pdcm_etl_spark.operators.analytics import pareto_frontier

    part = _t(spark, sf_dir, "part")
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


def x_bucket_cojoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketed layout: orders and
    lineitem are written bucketed on the order key (the one-time layout
    cost), then joined and aggregated on that key with ZERO Exchange in
    the plan — the co-located-join pattern that makes repeated 100 TB
    fact joins affordable. Plan-pinned exchange-free
    (tests/test_plan_shapes.py)."""
    import os
    import tempfile

    from pdcm_etl_spark.operators.layout import bucketize

    base = os.path.join(tempfile.gettempdir(), "pdcm_bucket_tables")
    o = bucketize(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderkey", 8, "pdcm_bucket_orders", f"{base}/orders",
    )
    li = bucketize(
        _t(spark, sf_dir, "lineitem").select(
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


def x_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-min gap) — the windowed batch
    twin of the applyInPandasWithState streaming sessionizer: one
    user-keyed shuffle serves the lag + running-sum windows, then a
    (user, session) aggregation. Integer-microsecond gap arithmetic."""
    from pdcm_etl_spark.operators.temporal import sessionize
    from pdcm_etl_spark.plans.catalog import load_events

    return sessionize(load_events(spark, sf_dir), gap_seconds=1800)


SQL_SESSIONIZE_BATCH = """
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN prev IS NULL
                   OR epoch_us(ts) - epoch_us(prev) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM lagged
),
sess AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
         AS sum_value_micro
FROM sess
GROUP BY 1, 2
"""


def x_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-type rollup maintained as
    aggregate(snapshot) ⊕ aggregate(delta) — the merge must equal the
    full recompute (which is exactly what the oracle runs), proving the
    split point cannot leak into the result. Counts/sums merge as sums,
    first/last as min/max."""
    from pdcm_etl_spark.operators.cdc import merge_aggregates
    from pdcm_etl_spark.plans.catalog import load_events

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
    from pdcm_etl_spark.functions.joins import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
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


def x_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload exact dedup on the blob digest: only 32-byte
    sha256s + ids shuffle; payloads never leave their scan tasks."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.payload_dedup(docs)


SQL_MULTIMODAL_DEDUP = """
SELECT sha256(text) AS payload_sha256,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_payloads
FROM documents
GROUP BY 1, 2
"""


def x_corpus_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus composition (docs, whitespace tokens,
    integer-ppm token share) — one hash agg + a one-row broadcast
    total."""
    docs = _docs(spark, sf_dir).select("lang", "text")
    return text.language_mix(docs)


SQL_CORPUS_LANGUAGE_MIX = """
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_tokens) AS total FROM per)
SELECT lang, n_docs, n_tokens,
       CAST((1000000 * n_tokens) // tot.total AS BIGINT) AS share_ppm
FROM per, tot
"""


def x_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-hour moving count + value sum over event
    time — RANGE frame on epoch seconds so simultaneous events enter as
    peers (set-deterministic). ONE user-keyed shuffle; the frame is
    maintained incrementally by the window operator, never a range
    self-join (operators/temporal.py::rolling_aggregate)."""
    from pdcm_etl_spark.operators.temporal import rolling_aggregate
    from pdcm_etl_spark.plans.catalog import load_events

    return rolling_aggregate(
        load_events(spark, sf_dir), window_seconds=3600
    )


SQL_ROLLING_WINDOW = """
WITH e AS (
  SELECT event_id, user_id, ts, value,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS es
  FROM events
)
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS roll_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w * 1000000 AS BIGINT)
         AS roll_value_micro
FROM e
WINDOW w AS (
  PARTITION BY user_id ORDER BY es
  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
"""


def x_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap: 1-hour purchase attribution windows
    against 15-minute click sessions of the same user. Both sides burst
    into covering time buckets, candidates meet by equi join on
    (user, bucket), the exact overlap predicate filters, and multi-
    bucket pairs are kept once by the first-shared-bucket rule — a pure
    column predicate instead of a pair-wide DISTINCT shuffle
    (operators/temporal.py::interval_overlap_join). Oracle: the plain
    inequality join."""
    from pdcm_etl_spark.operators.temporal import interval_overlap_join
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir)
    a = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTE")).alias("b_end"),
    )
    return interval_overlap_join(
        a,
        b,
        on=["user_id"],
        start_cols=("a_start", "b_start"),
        end_cols=("a_end", "b_end"),
        bucket_seconds=3600,
    )


SQL_INTERVAL_OVERLAP_JOIN = """
WITH a AS (
  SELECT user_id, event_id AS a_id, ts AS a_start,
         ts + INTERVAL 1 HOUR AS a_end
  FROM events WHERE event_type = 'purchase'
), b AS (
  SELECT user_id, event_id AS b_id, ts AS b_start,
         ts + INTERVAL 15 MINUTE AS b_end
  FROM events WHERE event_type = 'click'
)
SELECT a.user_id, a.a_id, a.a_start, a.a_end,
       b.b_id, b.b_start, b.b_end,
       CAST(least(epoch_us(a_end), epoch_us(b_end))
          - greatest(epoch_us(a_start), epoch_us(b_start)) AS BIGINT)
         AS overlap_micro
FROM a JOIN b
  ON a.user_id = b.user_id
 AND a.a_start <= b.b_end AND b.b_start <= a.a_end
"""


def x_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest join keys on events.user_id with integer-ppm
    corpus share and per-mille of the average key weight — the
    diagnostics pass that decides salting vs AQE before a 100 TB
    shuffle (operators/analytics.py::key_skew_profile). Data collapses
    to key cardinality in one partial agg; totals re-enter as a 1-row
    broadcast; top-N is TakeOrderedAndProject."""
    from pdcm_etl_spark.operators.analytics import key_skew_profile
    from pdcm_etl_spark.plans.catalog import load_events

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


def x_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint near-dup: per-doc k-gram hash
    stream → w-window minima, all as codegen array expressions (the
    hash stream never explodes); only the ~n/w selected fingerprints
    post into the guarded pair core (hot-fingerprint anti-join before
    collect, shuffle-hash-pinned size joins — shared with jaccard).
    Guarantees any ≥ k+w-1 char substring match shares a fingerprint
    (operators/dedup.py::winnow_fingerprints). Oracle: the identical
    portable-md5 pipeline in DuckDB list expressions."""
    # rebalance before the CPU-bound fingerprint projection: the test
    # lake's documents table is ONE parquet row-group → one scan task,
    # and winnowing (unlike jaccard) does all its heavy work inside the
    # scan projection by design. At warehouse scale the scan's own
    # splits provide this parallelism; a single small file does not.
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    fps = dedup.winnow_fingerprints(docs, k=8, w=4)
    # guard 100 (2% of the sf0.1 corpus): winnowing picks window-MINIMUM
    # hashes, which concentrates selection on the globally smallest
    # hashes of English-common k-grams — corpus-wide collisions that
    # carry no dup evidence but dominate candidate volume quadratically
    # (profiled at sf0.1: guard 1000 → 72M in-bucket candidate pairs,
    # 23s; guard 100 → 1.7M, 3.4s warm — jaccard's shingle profile
    # tolerates 1000, winnow's minimum-bias does not)
    return dedup.winnow_pairs(fps, min_ppm=600_000, max_fp_freq=100)


_H60_SUB = (
    "list_reduce(list_transform("
    "string_split(substring(md5(substr(t, CAST(i AS INT), 8)),1,15),''),"
    " c -> strpos('0123456789abcdef', c) - 1), (a,b) -> a*16 + b)::BIGINT"
)

SQL_DEDUP_WINNOW = f"""
WITH d AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents
), h AS (
  SELECT id, CASE WHEN length(t) >= 8 THEN
      list_transform(generate_series(1, length(t) - 7), i -> {_H60_SUB})
    ELSE [] END AS hs
  FROM d
), fp0 AS (
  SELECT id, CASE WHEN len(hs) >= 4 THEN
      list_distinct(list_transform(generate_series(1, len(hs) - 3),
        j -> list_min(list_slice(hs, CAST(j AS INT), CAST(j + 3 AS INT)))))
    WHEN len(hs) > 0 THEN [list_min(hs)] ELSE [] END AS fps
  FROM h
), post AS (
  SELECT id, unnest(fps) AS fp FROM fp0
), hot AS (
  SELECT fp FROM post GROUP BY fp HAVING count(*) > 100
), g AS (
  SELECT post.* FROM post ANTI JOIN hot USING (fp)
), sz AS (
  SELECT id, count(*) AS sz FROM g GROUP BY id
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM g a JOIN g b ON a.fp = b.fp AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, inter,
       CAST((1000000 * inter) // least(sa.sz, sb.sz) AS BIGINT)
         AS overlap_ppm
FROM pairs
JOIN sz sa ON sa.id = pairs.id_a
JOIN sz sb ON sb.id = pairs.id_b
WHERE (1000000 * inter) // least(sa.sz, sb.sz) >= 600000
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
    import os
    import tempfile

    from pdcm_etl_spark.operators.layout import partition_layout
    from pdcm_etl_spark.plans.catalog import load_events

    ev = load_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    # layout dir keyed on the Spark applicationId: two concurrent
    # sessions (bench + correctness gate) each get their own directory,
    # so one session's overwrite can never be listed mid-write by the
    # other (r5 advice). Removal is atexit, not inline — the returned
    # DataFrame lazily reads the directory; within one session repeat
    # calls reuse the same path (mode=overwrite), so no per-call leak.
    import atexit
    import shutil

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


def x_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.3 self-join over 3-gram shingle sets via
    prefix filtering (PPJoin family) — candidates bucket only on each
    doc's rarest ``|X| - ceil(t|X|) + 1`` shingles, then exact verify
    (operators/dedup.py::prefix_filter_pairs). The oracle is the
    BRUTE-FORCE all-pairs Jaccard: matching it proves the filter
    missed nothing, not merely that both engines agree on a pipeline."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    return dedup.prefix_filter_pairs(sh, min_ppm=300_000)


SQL_DEDUP_PREFIX_FILTER = """
WITH ws AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), d AS (
  -- identical shingle construction to SQL_DEDUP_NGRAM_JACCARD (mirrors
  -- operators/dedup.py::shingles: split on ' ', empties kept)
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
)
SELECT id_a, id_b, CAST(i AS BIGINT) AS inter,
       CAST((i * 1000000) // (na + nb - i) AS BIGINT) AS jaccard_ppm
FROM p
WHERE (i * 1000000) // (na + nb - i) >= 300000
"""


def x_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped curriculum selection: each source contributes its
    best-quality docs (type-token-ratio bp, the lexical-diversity
    proxy) until a 600-token domain budget fills — the quota-filling
    data-mixing step (operators/sampling.py::token_budget_select).
    The Spark side computes the running total TWO-LEVEL (bounded
    windows, sort parallelism = domains x quality buckets); the oracle
    is the naive single window per domain — matching proves the
    decomposition exact."""
    from pdcm_etl_spark.operators.sampling import token_budget_select

    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "source",
        "split(lower(text), ' ') AS ws",
    ).selectExpr(
        "doc_id",
        "source",
        "CAST(size(ws) AS BIGINT) AS n_tokens",
        "CAST(CAST(size(array_distinct(ws)) AS BIGINT) * 10000"
        " DIV size(ws) AS BIGINT)"
        " AS ttr_bp",
    )
    return token_budget_select(
        docs,
        domain_col="source",
        quality_col="ttr_bp",
        tokens_col="n_tokens",
        id_col="doc_id",
        budget_tokens=600,
        quality_bucket=500,
    )


SQL_TOKEN_BUDGET_SELECT = """
WITH d AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents
), q AS (
  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(ws)) * 10000 // len(ws) AS BIGINT) AS ttr_bp
  FROM d
), c AS (
  SELECT source AS domain, doc_id AS id, ttr_bp AS quality, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY ttr_bp DESC, doc_id ASC
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT domain, id, quality, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 600
"""


def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-regression diff between two entity snapshots
    (operators/cdc.py::snapshot_diff): old = orders minus every 7th
    key, new = orders minus every 11th key with every 5th priority
    rewritten — so the diff must report exactly the %7 adds, %11
    removes and %5 changes. Only (key, digest) ever shuffles; the
    oracle recomputes both snapshots and the same NULL-encoded md5
    digest in SQL."""
    from pdcm_etl_spark.operators.cdc import snapshot_diff

    base = _t(spark, sf_dir, "orders").selectExpr(
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


def x_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking over customer names, window 5
    (operators/dedup.py::sorted_neighborhood_pairs): global-rank
    neighbor pairs computed with NO global sort — bucketed ranks +
    broadcast offsets; the oracle is the naive global ROW_NUMBER self
    join, so a green row proves the rank decomposition and the
    exactly-once block pairing."""
    cust = _t(spark, sf_dir, "customer")
    return dedup.sorted_neighborhood_pairs(
        cust, id_col="c_custkey", key_col="c_name", window=5, bucket_len=16
    )


SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (
  SELECT c_custkey AS id, c_name AS k,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b,
       CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 5
"""


def x_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of multimodal_decode: each document becomes a REAL
    RIFF/WAV PCM file (canonical fmt chunk, little-endian int16 data)
    and the feature kernel parses it back by chunk walking — magic,
    fmt fields, sample unpack — seeing only the binary column
    (operators/multimodal.py::audio_features). Features are integer
    exact; the position-weighted checksum pins sample ORDER through
    the container round trip. Oracle re-derives everything from the
    shared deterministic sample rule (codepoint·257 − 32768)."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.audio_features(docs)


SQL_MULTIMODAL_AUDIO = """
WITH sm AS (
  SELECT doc_id,
         list_transform(range(256), i ->
           CASE WHEN length(coalesce(text, '')) = 0 THEN 0
                ELSE (ord(substr(text,
                         CAST(i % length(text) + 1 AS INTEGER), 1)) % 256)
                     * 257 - 32768
           END) AS ss
  FROM documents
)
SELECT doc_id,
       -- RIFF hdr 12 + fmt chunk 24 + data hdr 8 + 2 bytes x 256 samples
       CAST(556 AS INTEGER) AS byte_len,
       CAST(16000 AS INTEGER) AS sample_rate,
       CAST(256 AS INTEGER) AS n_samples,
       CAST(list_sum(list_transform(ss, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_max(list_transform(ss, x -> abs(x))) AS INTEGER) AS peak,
       CAST(len(list_filter(range(1, 256),
            i -> (ss[i + 1] < 0) != (ss[i] < 0))) AS INTEGER)
         AS zero_crossings,
       CAST(list_sum(list_transform(range(256),
            i -> CAST(ss[i + 1] AS BIGINT) * (i + 1))) AS BIGINT)
         AS sample_checksum
FROM sm
"""


def x_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules over co-ordered parts: both directions
    of every frequent pair with integer-ppm confidence (asymmetric) and
    lift (operators/assoc.py::association_rules) — one projection on
    top of the pair miner, no extra shuffle."""
    from pdcm_etl_spark.operators.assoc import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
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


def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    stream (operators/temporal.py::event_transitions): one user-keyed
    lead() window + a |types|²-sized aggregation; per-state exit shares
    in integer ppm via a window over that tiny aggregate."""
    from pdcm_etl_spark.operators.temporal import event_transitions
    from pdcm_etl_spark.plans.catalog import load_events

    return event_transitions(load_events(spark, sf_dir))


SQL_EVENT_TRANSITIONS = """
WITH s AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM s WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST((1000000 * n) // SUM(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS share_ppm
FROM c
"""


def x_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass column profile of orders
    (operators/analytics.py::table_stats): row/non-null/exact-NDV
    counts + string-rendered min/max per column from ONE Expand-based
    aggregation — one scan for the whole profile. The double column is
    profiled for counts but min/max-NULL (no portable text form)."""
    from pdcm_etl_spark.operators.analytics import table_stats

    return table_stats(
        _t(spark, sf_dir, "orders"),
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


def x_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value stream
    (operators/temporal.py::time_weighted_average): each observation
    weighted by the integer seconds until the user's next one;
    decimal-exact accumulation, floor-micro output. One key-ordered
    window + one keyed aggregation."""
    from pdcm_etl_spark.operators.temporal import time_weighted_average
    from pdcm_etl_spark.plans.catalog import load_events

    return time_weighted_average(load_events(spark, sf_dir)).withColumnRenamed(
        "key", "user_id"
    )


SQL_TWAP = """
WITH g AS (
  SELECT user_id,
         CAST(value AS DECIMAL(18,6)) AS v,
         epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           // 1000000 - epoch_us(ts) // 1000000 AS dt
  FROM events
),
a AS (
  SELECT user_id, COUNT(*) AS n_intervals,
         CAST(SUM(dt) AS BIGINT) AS total_seconds,
         CAST(SUM(v * dt) * 1000000 AS BIGINT) AS vw_micro
  FROM g WHERE dt IS NOT NULL AND dt > 0
  GROUP BY user_id
)
SELECT user_id, CAST(n_intervals AS BIGINT) AS n_intervals, total_seconds,
       CAST(vw_micro // total_seconds AS BIGINT) AS twap_micro
FROM a
"""


def x_crosstab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source contingency with per-cell integer-ppm lift
    (operators/analytics.py::crosstab_lift): one cell aggregation,
    marginals and grand total re-derived FROM the cells as broadcast
    one-pass re-aggregations — the data is scanned once."""
    from pdcm_etl_spark.operators.analytics import crosstab_lift

    return crosstab_lift(_docs(spark, sf_dir), "lang", "source")


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


def x_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the exact-Jaccard near-dup pair graph
    (operators/graph.py::kcore): iterative peeling separates DENSE
    duplicate communities from incidental pairwise matches. One
    degree agg + two semi joins per round, convergence observe()d
    during the round's checkpoint (one action/round); the oracle is
    the generated fixed-round peeling chain (peeling is monotone, so
    extra oracle rounds after the fixpoint are no-ops)."""
    from pdcm_etl_spark.operators.graph import kcore

    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, n=3)
    pairs = dedup.jaccard_pairs(sh, min_bp=2000, max_shingle_freq=1000)
    return kcore(pairs, k=2, src="id_a", dst="id_b", max_rounds=8)


def _sql_kcore(k: int = 2, rounds: int = 8) -> str:
    """Generated fixed-round peeling oracle over the jaccard pair graph
    (same pair CTEs as SQL_DEDUP_GROUPS)."""
    parts = [
        """ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), sh AS (
  SELECT sh0.doc_id, sh0.shingle FROM sh0
  JOIN (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000) f
  USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE FLOOR(inter * 10000.0 / (sa.sz + sb.sz - inter)) >= 2000
), e0 AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            # MATERIALIZED: DuckDB inlines plain CTEs, and each round
            # references the previous one three times — unmaterialized,
            # the chain expands 3^rounds copies of the pair pipeline
            # (observed: "Too many open files" at 8 rounds)
            f"""k{r} AS MATERIALIZED (
  SELECT a FROM e{p} GROUP BY a HAVING COUNT(*) >= {k}
), e{r} AS MATERIALIZED (
  SELECT e{p}.a, e{p}.b FROM e{p}
  JOIN k{r} ka ON e{p}.a = ka.a
  JOIN k{r} kb ON e{p}.b = kb.a
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree "
        f"FROM e{rounds} GROUP BY a"
    )


def x_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: tumbling-day per-type counts maintained by
    the watermarked stream, deterministic top-3 ranked over the sink
    (streaming/events_stream.py::windowed_topk_stream — ranking is
    non-incremental so it lives in the serving read, the counts are the
    streaming state)."""
    from pdcm_etl_spark.streaming.events_stream import windowed_topk_stream

    return windowed_topk_stream(spark, sf_dir)


SQL_STREAM_WINDOWED_TOPK = """
WITH c AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT win_start, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY win_start
                            ORDER BY n_events DESC, event_type ASC) AS rank
  FROM c
)
SELECT win_start, event_type, CAST(n_events AS BIGINT) AS n_events,
       CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
"""


def x_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers on the event value per
    event_type (operators/ml.py::mad_outliers): discrete integer
    medians (position-picked, tie-broken by event_id), k=3 fences —
    the 50%-breakdown robust twin of anomaly_iqr. With k=3 on this
    near-uniform synthetic value the flag set is small but non-empty
    by construction of the tail."""
    from pdcm_etl_spark.operators.ml import mad_outliers
    from pdcm_etl_spark.plans.catalog import load_events

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
    from pdcm_etl_spark.operators.ml import percentile_rank_ppm

    docs = _docs(spark, sf_dir).selectExpr(
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
    from pdcm_etl_spark.operators.ml import target_encode_loo

    orders = _t(spark, sf_dir, "orders")
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
    from pdcm_etl_spark.operators.ml import robust_scale_ppm
    from pdcm_etl_spark.plans.catalog import load_events

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
    from pdcm_etl_spark.operators.ml import spearman_corr_ppm

    li = _t(spark, sf_dir, "lineitem").selectExpr(
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


EXTENSION_CATALOG: dict[str, tuple] = {
    "dedup_exact": (x_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (x_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_groups": (x_dedup_groups, SQL_DEDUP_GROUPS),
    "dedup_groups_star": (x_dedup_groups_star, SQL_DEDUP_GROUPS),
    "dedup_minhash_lsh": (x_dedup_minhash_lsh, _sql_dedup_minhash_lsh()),
    "dedup_minhash_incremental": (
        x_dedup_minhash_incremental, _sql_dedup_minhash_incremental()),
    "dedup_simhash": (x_dedup_simhash, _sql_dedup_simhash()),
    "dedup_embedding": (x_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "dedup_semantic": (x_dedup_semantic, _sql_dedup_semantic()),
    "dedup_keeper_quality": (x_dedup_keeper_quality, _sql_dedup_keeper_quality()),
    "ann_cosine_topk": (x_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_ivf_topk": (x_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "ann_lsh_topk": (x_ann_lsh_topk, _sql_ann_lsh_topk()),
    "ann_ivf_trained_topk": (x_ann_ivf_trained_topk, SQL_ANN_IVF_TRAINED_TOPK),
    "ann_recall": (x_ann_recall, SQL_ANN_RECALL),
    "text_tokens": (x_text_tokens, SQL_TEXT_TOKENS),
    "text_quality": (x_text_quality, SQL_TEXT_QUALITY),
    "text_langid": (x_text_langid, SQL_TEXT_LANGID),
    "text_fingerprint": (x_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_tfidf": (x_text_tfidf, SQL_TEXT_TFIDF),
    "text_pii_scrub": (x_text_pii_scrub, SQL_TEXT_PII_SCRUB),
    "text_contamination": (x_text_contamination, SQL_TEXT_CONTAMINATION),
    "text_repetition": (x_text_repetition, SQL_TEXT_REPETITION),
    "text_chunk": (x_text_chunk, SQL_TEXT_CHUNK),
    "ngram_topk": (x_ngram_topk, SQL_NGRAM_TOPK),
    "heavy_hitters": (x_heavy_hitters, SQL_HEAVY_HITTERS),
    "approx_quantile": (x_approx_quantile, SQL_APPROX_QUANTILE),
    "shuffle_shards": (x_shuffle_shards, SQL_SHUFFLE_SHARDS),
    "dedup_paragraph": (x_dedup_paragraph, SQL_DEDUP_PARAGRAPH),
    "sample_domain_mix": (x_sample_domain_mix, SQL_SAMPLE_DOMAIN_MIX),
    "bpe_pair_counts": (x_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "bpe_train": (x_bpe_train, _sql_bpe_train(4)),
    "bpe_encode": (x_bpe_encode, _sql_bpe_encode(4)),
    "unigram_lm_score": (x_unigram_lm_score, SQL_UNIGRAM_LM_SCORE),
    "inverted_index": (x_inverted_index, SQL_INVERTED_INDEX),
    "stump_train": (x_stump_train, SQL_STUMP_TRAIN),
    "zorder_layout": (x_zorder_layout, _sql_zorder_layout()),
    "pagerank": (x_pagerank, _sql_pagerank(3)),
    "triangle_count": (x_triangle_count, SQL_TRIANGLE_COUNT),
    "itemset_pairs": (x_itemset_pairs, SQL_ITEMSET_PAIRS),
    "timeseries_gapfill": (x_timeseries_gapfill, SQL_TIMESERIES_GAPFILL),
    "anomaly_iqr": (x_anomaly_iqr, SQL_ANOMALY_IQR),
    "dedup_containment": (x_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "pareto_frontier": (x_pareto_frontier, SQL_PARETO_FRONTIER),
    "bucket_cojoin": (x_bucket_cojoin, SQL_BUCKET_COJOIN),
    "sessionize_batch": (x_sessionize_batch, SQL_SESSIONIZE_BATCH),
    "ivm_merge": (x_ivm_merge, SQL_IVM_MERGE),
    "bloom_prune_join": (x_bloom_prune_join, SQL_BLOOM_PRUNE_JOIN),
    "multimodal_dedup": (x_multimodal_dedup, SQL_MULTIMODAL_DEDUP),
    "corpus_language_mix": (x_corpus_language_mix, SQL_CORPUS_LANGUAGE_MIX),
    "funnel_stages": (x_funnel_stages, SQL_FUNNEL_STAGES),
    "cohort_retention": (x_cohort_retention, SQL_COHORT_RETENTION),
    "dedup_edit_distance": (x_dedup_edit_distance, SQL_DEDUP_EDIT_DISTANCE),
    "multimodal_meta": (x_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_decode": (x_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal_frames": (x_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "multimodal_resize": (x_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "stream_events_daily": (x_stream_events_daily, SQL_STREAM_EVENTS_DAILY),
    "stream_events_sliding": (x_stream_events_sliding, SQL_STREAM_EVENTS_SLIDING),
    "session_window": (x_session_window, SQL_SESSION_WINDOW),
    "asof_join": (x_asof_join, SQL_ASOF_JOIN),
    "range_join": (x_range_join, SQL_RANGE_JOIN),
    "sample_stratified": (x_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "corpus_curation": (x_corpus_curation, SQL_CORPUS_CURATION),
    "kmeans_assign": (x_kmeans_assign, SQL_KMEANS_ASSIGN),
    "kmeans_assign_bcast": (x_kmeans_assign_bcast, SQL_KMEANS_ASSIGN_BCAST),
    "pack_sequences": (x_pack_sequences, SQL_PACK_SEQUENCES),
    "quality_percentile": (x_quality_percentile, SQL_QUALITY_PERCENTILE),
    "stream_sessionize": (x_stream_sessionize, SQL_STREAM_SESSIONIZE),
    "stream_stream_join": (x_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    "scd2_merge": (x_scd2_merge, SQL_SCD2_MERGE),
    "stream_dedup": (x_stream_dedup, SQL_STREAM_DEDUP),
    "stream_scd2_upsert": (x_stream_scd2_upsert, SQL_SCD2_MERGE),
    "rolling_window": (x_rolling_window, SQL_ROLLING_WINDOW),
    "interval_overlap_join": (x_interval_overlap_join, SQL_INTERVAL_OVERLAP_JOIN),
    "key_skew_profile": (x_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    "partition_prune": (x_partition_prune, SQL_PARTITION_PRUNE),
    "dedup_winnow": (x_dedup_winnow, SQL_DEDUP_WINNOW),
    "dedup_prefix_filter": (x_dedup_prefix_filter, SQL_DEDUP_PREFIX_FILTER),
    "token_budget_select": (x_token_budget_select, SQL_TOKEN_BUDGET_SELECT),
    "snapshot_diff": (x_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "sorted_neighborhood": (x_sorted_neighborhood, SQL_SORTED_NEIGHBORHOOD),
    "multimodal_audio": (x_multimodal_audio, SQL_MULTIMODAL_AUDIO),
    "assoc_rules": (x_assoc_rules, SQL_ASSOC_RULES),
    "event_transitions": (x_event_transitions, SQL_EVENT_TRANSITIONS),
    "table_stats": (x_table_stats, SQL_TABLE_STATS),
    "twap": (x_twap, SQL_TWAP),
    "crosstab_lift": (x_crosstab_lift, SQL_CROSSTAB_LIFT),
    "kcore": (x_kcore, _sql_kcore()),
    "stream_windowed_topk": (x_stream_windowed_topk, SQL_STREAM_WINDOWED_TOPK),
    "anomaly_mad": (x_anomaly_mad, SQL_ANOMALY_MAD),
    "percentile_rank": (x_percentile_rank, SQL_PERCENTILE_RANK),
    "target_encode": (x_target_encode, SQL_TARGET_ENCODE),
    "robust_scale": (x_robust_scale, SQL_ROBUST_SCALE),
    "spearman_corr": (x_spearman_corr, SQL_SPEARMAN_CORR),
}
