"""Near-duplicate detection and entity resolution over the documents
table (``operators/dedup.py``): exact, shingle-Jaccard, MinHash-LSH,
SimHash, containment, winnowing, prefix-filter, edit-distance and
exact-substring dedup, their recall evaluations, sorted-neighbourhood
record linkage and survivorship merge. Duplicate groups come from
``operators/graph.py``'s connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.catalog.text import TOKEN_SET_FP
from pdcm_etl_spark.operators import dedup, text
from pdcm_etl_spark.operators.dedup import (
    DUCK_H60,
    banding_recall_banded,
    golden_record_merge,
    substring_dedup,
    substring_dedup_incremental,
    substring_dup_stats,
    substring_scrub,
)
from pdcm_etl_spark.operators.graph import connected_components
from pdcm_etl_spark.sources.lake import read_docs, read_table


def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs(spark, sf_dir)
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
    docs = read_docs(spark, sf_dir)
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
    docs = read_docs(spark, sf_dir)
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
    docs = read_docs(spark, sf_dir)
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


def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs(spark, sf_dir)
    return dedup.minhash_dedup(docs, min_bp=2000)


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
    h60 = DUCK_H60.format(col="shingle")
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
    docs = read_docs(spark, sf_dir)
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
    h60 = DUCK_H60.format(col="shingle")
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
    docs = read_docs(spark, sf_dir)
    sims = dedup.simhash(docs)
    return dedup.simhash_near_pairs(sims, max_hamming=3)


def _sql_dedup_simhash(max_hamming: int = 3, bands: int = 4) -> str:
    """Exact oracle for SimHash near-dup pairs: same portable token
    digest, same sign-of-vote bits, same 15-bit band blocking, exact
    hamming via bit_count(xor)."""
    nbits = dedup.SIMHASH_BITS
    width = nbits // bands
    h60 = DUCK_H60.format(col="tok")
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


def x_dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper selection after near-dup grouping: per connected component,
    keep the highest-quality member (stopword ratio, then length, then
    min id — the curation policy real pipelines use instead of 'lowest
    id wins'). Window partitioned by group — groups are dup-sliver-sized,
    never corpus-sized, so no unpartitioned sort."""
    groups = x_dedup_groups(spark, sf_dir)
    docs = read_docs(spark, sf_dir)
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


def x_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup (arXiv:1911.00359): 16-word
    segments deduped across the whole corpus (first occurrence by
    (doc_id, position) wins), documents reassembled from surviving
    segments. One digest shuffle + digest-partitioned window."""
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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


def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-containment near-dups (short doc embedded in a
    long one — Jaccard-blind): same guarded in-bucket candidates as
    jaccard, integer-ppm containment both directions, keep pairs with
    max direction >= 0.5."""
    docs = read_docs(spark, sf_dir)
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


def x_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-dup pairs: (prefix, length-bucket)
    blocking + hot-block anti-join guard, distance only on candidates.
    Exact oracle — both engines implement standard edit distance."""
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).repartition(
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


def x_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.3 self-join over 3-gram shingle sets via
    prefix filtering (PPJoin family) — candidates bucket only on each
    doc's rarest ``|X| - ceil(t|X|) + 1`` shingles, then exact verify
    (operators/dedup.py::prefix_filter_pairs). The oracle is the
    BRUTE-FORCE all-pairs Jaccard: matching it proves the filter
    missed nothing, not merely that both engines agree on a pipeline."""
    docs = read_docs(spark, sf_dir)
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


def x_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER blocking over customer names, window 5
    (operators/dedup.py::sorted_neighborhood_pairs): global-rank
    neighbor pairs computed with NO global sort — bucketed ranks +
    broadcast offsets; the oracle is the naive global ROW_NUMBER self
    join, so a green row proves the rank decomposition and the
    exactly-once block pairing."""
    cust = read_table(spark, sf_dir, "customer")
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


def x_er_score_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage scoring over sorted-neighborhood candidates
    (operators/dedup.py::linkage_score_pairs): customer near-misses in
    name order, scored by integer Fellegi–Sunter-style field-agreement
    weights (nation +10, segment +10, acctbal ±100.00 +25, name-prefix8
    +40), threshold 35. The blocker never shuffles the wide rows —
    attributes re-enter by two id-keyed joins."""
    cust = read_table(spark, sf_dir, "customer").withColumn(
        "bal_cents",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint"),
    ).withColumn("name8", F.substring("c_name", 1, 8))
    pairs = dedup.sorted_neighborhood_pairs(
        cust, id_col="c_custkey", key_col="c_name", window=5, bucket_len=16
    )
    return dedup.linkage_score_pairs(
        pairs,
        cust,
        "c_custkey",
        exact_rules=[
            ("nation_eq", "c_nationkey", 10),
            ("segment_eq", "c_mktsegment", 10),
            ("name8_eq", "name8", 40),
        ],
        tol_rules=[("bal_close", "bal_cents", 10000, 25)],
        threshold=35,
    )


SQL_ER_SCORE_PAIRS = """
WITH r AS (
  SELECT c_custkey AS id, c_name AS k,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rnk
  FROM customer
),
p AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk < 5
),
c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
         SUBSTR(c_name, 1, 8) AS name8
  FROM customer
),
s AS (
  SELECT p.id_a, p.id_b,
         ca.c_nationkey = cb.c_nationkey AS nation_eq,
         ca.c_mktsegment = cb.c_mktsegment AS segment_eq,
         ca.name8 = cb.name8 AS name8_eq,
         ABS(ca.bal_cents - cb.bal_cents) <= 10000 AS bal_close
  FROM p
  JOIN c ca ON ca.c_custkey = p.id_a
  JOIN c cb ON cb.c_custkey = p.id_b
)
SELECT id_a, id_b, nation_eq, segment_eq, name8_eq, bal_close,
       CAST(CASE WHEN nation_eq THEN 10 ELSE 0 END
          + CASE WHEN segment_eq THEN 10 ELSE 0 END
          + CASE WHEN name8_eq THEN 40 ELSE 0 END
          + CASE WHEN bal_close THEN 25 ELSE 0 END AS BIGINT) AS score
FROM s
WHERE CASE WHEN nation_eq THEN 10 ELSE 0 END
    + CASE WHEN segment_eq THEN 10 ELSE 0 END
    + CASE WHEN name8_eq THEN 40 ELSE 0 END
    + CASE WHEN bal_close THEN 25 ELSE 0 END >= 35
"""


def x_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banding recall harness — ann_recall's twin for dedup: the
    MinHash+LSH pipeline's verified pairs measured against the
    CANDIDATE-COMPLETE exact truth at the same threshold (prefix
    filtering at Jaccard ≥ 0.2, whose completeness is itself proven by
    the brute-force dedup_prefix_filter oracle row). Both sides verify
    with exact Jaccard on full shingle sets, so LSH output ⊆ truth and
    the gap IS the banding miss rate — the number that decides
    bands/rows tuning before a 100 TB dedup run.

    Scale: truth + candidates are the two production pipelines
    unchanged; the comparison adds one pair-keyed semi join and three
    1-row aggregates (broadcast crossJoin). At 100 TB the harness runs
    in SAMPLED mode — ``sample_bp`` hash-samples documents (basis
    points of the corpus) before BOTH pipelines, so the quadratic
    truth side is paid on a sliver while recall, being a ratio,
    transfers: property-tested at sf0.1 (2500/5000 bp within ±5 pp of
    the full-corpus recall, tests/test_properties.py)."""
    return dedup.banding_recall(read_docs(spark, sf_dir), min_ppm=200_000)


def _sql_dedup_recall(sample_bp: int | None = None) -> str:
    where = ""
    if sample_bp is not None:
        h = DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")
        where = f" WHERE ({h}) % 10000 < {sample_bp}"
    return f"""
WITH ws AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w
  FROM documents{where}
), d AS (
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
), truth AS (
  SELECT id_a, id_b FROM p
  WHERE (i * 1000000) // (na + nb - i) >= 200000
), found AS (
  SELECT id_a, id_b FROM ({_sql_dedup_minhash_lsh(min_bp=2000, where=where)})
), h AS (
  SELECT COUNT(*) AS n_hit
  FROM (SELECT id_a, id_b FROM found INTERSECT
        SELECT id_a, id_b FROM truth)
), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth),
f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh_pairs FROM found)
SELECT t.n_true_pairs, f.n_lsh_pairs, CAST(h.n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN t.n_true_pairs = 0 THEN NULL
            ELSE (h.n_hit * 1000000) // t.n_true_pairs END AS BIGINT)
         AS recall_ppm
FROM t, f, h
"""


def x_dedup_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of dedup_recall (round-9 verdict ask 2): both
    pipelines run on a DETERMINISTIC portable-hash document sample
    (sample_bp basis points of the corpus) so the pair-quadratic exact
    truth is paid on p² of the pairs while recall, a ratio over a
    uniformly-sampled pair subset (Bernoulli doc sampling ⇒ each truth
    pair survives iff both endpoints do), transfers. This is the
    variant the sf1 sweep RUNS (the full-truth twin stays sf≤0.1)."""
    return dedup.banding_recall(
        read_docs(spark, sf_dir), min_ppm=200_000, sample_bp=2500
    )


def x_golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-wise survivorship merge of exact-content clusters
    (operators/dedup.py::golden_record_merge): min-id anchor, longest
    text, modal attribute, summed provenance — two stacked hash aggs,
    no windows, no joins."""
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "lang", F.coalesce(F.col("lang"), F.lit(""))
    )
    return golden_record_merge(docs)


SQL_GOLDEN_RECORD_MERGE = f"""
WITH t AS (
  SELECT {TOKEN_SET_FP} AS fingerprint,
         doc_id AS id, COALESCE(lang, '') AS attr,
         CAST(length(text) AS BIGINT) AS len
  FROM documents
), pre AS (
  SELECT fingerprint, attr, CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(id) AS min_id,
         MIN({{'nl': -len, 'i': id}}) AS best,
         CAST(SUM(CAST(len AS HUGEINT)) AS HUGEINT) AS chars
  FROM t GROUP BY 1, 2
)
SELECT fingerprint,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       MIN(min_id) AS golden_id,
       (MIN(best)).i AS best_text_id,
       CAST(-((MIN(best)).nl) AS BIGINT) AS best_text_len,
       (MIN({{'nc': -cnt, 'v': attr}})).v AS attr_mode,
       CAST(SUM(chars) AS BIGINT) AS total_chars
FROM pre GROUP BY 1
"""


def x_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans at k=16 tokens over the document
    corpus (operators/dedup.py::substring_dedup) — suffix-array
    semantics via sliding-window digests + first-occurrence +
    gaps-and-islands run merging; only (id, pos, digest) ever crosses a
    shuffle."""
    return substring_dedup(read_docs(spark, sf_dir), k=16)


SQL_DEDUP_SUBSTRING = """
WITH ws AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents
), wins AS (
  SELECT id, i AS pos,
         array_to_string(list_slice(w, i + 1, i + 16), ' ') AS win
  FROM (SELECT id, w, unnest(range(len(w) - 16 + 1)) AS i
        FROM ws WHERE len(w) >= 16)
), dup AS (
  SELECT id, pos FROM (
    SELECT id, pos,
           row_number() OVER (PARTITION BY win ORDER BY id, pos) AS rn
    FROM wins)
  WHERE rn > 1
), isl AS (
  SELECT id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) < 16
              THEN 0 ELSE 1 END AS brk
  FROM dup
), grp AS (
  SELECT id, pos,
         SUM(brk) OVER (PARTITION BY id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM isl
)
SELECT id AS doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 15 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 15 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows
FROM grp GROUP BY id, island
"""


def x_dedup_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-token share — the Lee et al. headline
    metric (operators/dedup.py::substring_dup_stats): substring spans
    rolled up per document, joined back (shuffle-hash both ways), and
    aggregated to the feed vocabulary."""
    return substring_dup_stats(read_docs(spark, sf_dir), k=16)


SQL_DEDUP_SUBSTRING_STATS = f"""
WITH spans AS ({SQL_DEDUP_SUBSTRING}),
per_doc AS (
  SELECT doc_id, SUM(span_tokens) AS dup FROM spans GROUP BY doc_id
), docs AS (
  SELECT doc_id, source,
         len(string_split(lower(text), ' ')) AS tok
  FROM documents
), j AS (
  SELECT d.source, d.tok, COALESCE(p.dup, 0) AS dup
  FROM docs d LEFT JOIN per_doc p USING (doc_id)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(SUM(dup) AS BIGINT) AS dup_tokens,
       -- HUGEINT discipline: SUM(dup)*1e6 passes int64 at corpus scale
       CAST(CASE WHEN SUM(tok) = 0 THEN 0
            ELSE CAST(SUM(dup) AS HUGEINT) * 1000000 // SUM(tok)
            END AS BIGINT) AS dup_ppm
FROM j GROUP BY source
"""


def x_dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned corpus of Lee et al. 2022 exact-substring dedup
    (operators/dedup.py::substring_scrub): every non-first duplicated
    span (k=16 tokens) cut out of its document, survivors reassembled
    in order — the op a training pipeline runs right before
    tokenization."""
    return substring_scrub(read_docs(spark, sf_dir), k=16)


# dup_tokens comes from the span rollup and kept_tokens from the
# independent positional filter — the oracle cross-checks the two
# paths that the Spark side claims agree (disjoint maximal spans).
SQL_DEDUP_SUBSTRING_SCRUB = f"""
WITH spans AS ({SQL_DEDUP_SUBSTRING}),
pd AS (
  SELECT doc_id, SUM(span_tokens) AS dup FROM spans GROUP BY doc_id
), docs AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
), toks AS (
  SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS pos
  FROM docs
), kept AS (
  SELECT t.doc_id, t.w, t.pos
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = t.doc_id
      AND t.pos BETWEEN s.span_start AND s.span_end)
), k AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         string_agg(w, ' ' ORDER BY pos) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(pd.dup, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       COALESCE(k.kept_text, '') AS kept_text
FROM docs d
LEFT JOIN pd USING (doc_id)
LEFT JOIN k USING (doc_id)
"""


def x_dedup_recall_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall stratified by exact-Jaccard band on the sampled
    pipeline (operators/dedup.py::banding_recall_banded, sample_bp=2500
    — the 100 TB shape): the per-band miss rate that the scalar
    recall_ppm hides when replica pairs at J=1.0 dominate the truth
    set. The low bands are where bands/rows tuning actually happens."""
    return banding_recall_banded(
        read_docs(spark, sf_dir), min_ppm=200_000, sample_bp=2500
    )


def _sql_dedup_recall_banded(sample_bp: int | None = None) -> str:
    where = ""
    if sample_bp is not None:
        h = DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")
        where = f" WHERE ({h}) % 10000 < {sample_bp}"
    return f"""
WITH ws AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS w
  FROM documents{where}
), d AS (
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
), truth AS (
  SELECT id_a, id_b, (i * 1000000) // (na + nb - i) AS j_ppm FROM p
  WHERE (i * 1000000) // (na + nb - i) >= 200000
), found AS (
  SELECT id_a, id_b FROM ({_sql_dedup_minhash_lsh(min_bp=2000, where=where)})
), j AS (
  SELECT CASE WHEN t.j_ppm >= 1000000 THEN 1000000
              WHEN t.j_ppm >= 800000 THEN 800000
              WHEN t.j_ppm >= 500000 THEN 500000
              WHEN t.j_ppm >= 300000 THEN 300000
              ELSE 200000 END AS band_lo_ppm,
         CASE WHEN EXISTS (SELECT 1 FROM found f
                           WHERE f.id_a = t.id_a AND f.id_b = t.id_b)
              THEN 1 ELSE 0 END AS hit
  FROM truth t
)
SELECT CAST(band_lo_ppm AS BIGINT) AS band_lo_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(hit) AS BIGINT) AS n_hit,
       -- HUGEINT discipline per the repo overflow convention
       CAST(CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE (CAST(SUM(hit) AS HUGEINT) * 1000000) // COUNT(*)
            END AS BIGINT) AS recall_ppm
FROM j GROUP BY band_lo_ppm ORDER BY band_lo_ppm
"""


def x_dedup_substring_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental exact-substring dedup demo: docs with doc_id < 250
    play the already-indexed corpus, the rest are the new ingest batch
    (operators/dedup.py::substring_dedup_incremental — same boundary
    convention as dedup_minhash_incremental). Spans reported for new
    docs only, with the corpus-vs-batch window split."""
    return substring_dedup_incremental(
        read_docs(spark, sf_dir), F.col("doc_id") < 250, k=16
    )


SQL_DEDUP_SUBSTRING_INCREMENTAL = """
WITH ws AS (
  SELECT doc_id AS id, doc_id < 250 AS ex,
         string_split(lower(text), ' ') AS w
  FROM documents
), wins AS (
  SELECT id, ex, i AS pos,
         array_to_string(list_slice(w, i + 1, i + 16), ' ') AS win
  FROM (SELECT id, ex, w, unnest(range(len(w) - 16 + 1)) AS i
        FROM ws WHERE len(w) >= 16)
), dup AS (
  SELECT id, pos, kr FROM (
    SELECT id, pos, ex,
           row_number() OVER w AS rn,
           first_value(CASE WHEN ex THEN 0 ELSE 1 END) OVER w AS kr
    FROM wins
    WINDOW w AS (PARTITION BY win
                 ORDER BY CASE WHEN ex THEN 0 ELSE 1 END, id, pos)
  ) WHERE rn > 1 AND NOT ex
), isl AS (
  SELECT id, pos, kr,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) < 16
              THEN 0 ELSE 1 END AS brk
  FROM dup
), grp AS (
  SELECT id, pos, kr,
         SUM(brk) OVER (PARTITION BY id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM isl
)
SELECT id AS doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 15 AS BIGINT) AS span_end,
       CAST(MAX(pos) + 15 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN kr = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corpus_windows
FROM grp GROUP BY id, island
"""


CATALOG: dict[str, tuple] = {
    "dedup_exact": (x_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram_jaccard": (x_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_groups": (x_dedup_groups, SQL_DEDUP_GROUPS),
    "dedup_groups_star": (x_dedup_groups_star, SQL_DEDUP_GROUPS),
    "dedup_minhash_lsh": (x_dedup_minhash_lsh, _sql_dedup_minhash_lsh()),
    "dedup_minhash_incremental": (
        x_dedup_minhash_incremental,
        _sql_dedup_minhash_incremental(),
    ),
    "dedup_simhash": (x_dedup_simhash, _sql_dedup_simhash()),
    "dedup_keeper_quality": (x_dedup_keeper_quality, _sql_dedup_keeper_quality()),
    "dedup_paragraph": (x_dedup_paragraph, SQL_DEDUP_PARAGRAPH),
    "dedup_containment": (x_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_edit_distance": (x_dedup_edit_distance, SQL_DEDUP_EDIT_DISTANCE),
    "dedup_winnow": (x_dedup_winnow, SQL_DEDUP_WINNOW),
    "dedup_prefix_filter": (x_dedup_prefix_filter, SQL_DEDUP_PREFIX_FILTER),
    "sorted_neighborhood": (x_sorted_neighborhood, SQL_SORTED_NEIGHBORHOOD),
    "er_score_pairs": (x_er_score_pairs, SQL_ER_SCORE_PAIRS),
    "dedup_recall": (x_dedup_recall, _sql_dedup_recall()),
    "dedup_recall_sampled": (x_dedup_recall_sampled, _sql_dedup_recall(sample_bp=2500)),
    "golden_record_merge": (x_golden_record_merge, SQL_GOLDEN_RECORD_MERGE),
    "dedup_substring": (x_dedup_substring, SQL_DEDUP_SUBSTRING),
    "dedup_substring_stats": (x_dedup_substring_stats, SQL_DEDUP_SUBSTRING_STATS),
    "dedup_substring_scrub": (x_dedup_substring_scrub, SQL_DEDUP_SUBSTRING_SCRUB),
    "dedup_recall_banded": (
        x_dedup_recall_banded,
        _sql_dedup_recall_banded(sample_bp=2500),
    ),
    "dedup_substring_incremental": (
        x_dedup_substring_incremental,
        SQL_DEDUP_SUBSTRING_INCREMENTAL,
    ),
}
