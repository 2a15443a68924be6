"""Deterministic sampling (``operators/sampling.py``): hash-stratified,
weighted, domain-mixed and budgeted samples, shard shuffles, k-fold and
leakage audits, class balancing, and the curation pipelines whose last
step is a sample. Every sample is keyed on the portable 60-bit hash, so
the oracle selects the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.operators import dedup, text
from pdcm_etl_spark.operators.dedup import DUCK_H60
from pdcm_etl_spark.operators.sampling import (
    balanced_downsample,
    domain_mix_sample,
    hash_sample,
    hash_stratified_sample,
    shuffle_shards,
    split_leakage_audit,
    stratified_kfold_assign,
    token_budget_select,
    top_percentile_filter,
    weighted_sample,
    weighted_sample_grouped,
)
from pdcm_etl_spark.sources.lake import load_events, read_docs, read_table

# DuckDB side of portable_hash60(doc_id): the key of every doc-keyed sample
H60_DOC_ID = DUCK_H60.format(col="CAST(doc_id AS VARCHAR)")


def x_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment (training-data
    export order): shard from the portable 60-bit key hash, position
    from a per-shard (parallel) window — reproducible across runs,
    partitionings and engines, unlike orderBy(rand())."""
    docs = read_docs(spark, sf_dir).select("doc_id")
    return shuffle_shards(docs, "doc_id", n_shards=8)


SQL_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id, {H60_DOC_ID} AS hh FROM documents
)
SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
            AS INTEGER) AS pos
FROM h
"""


def x_sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain re-balancing (training-data mixing): per-source target
    weights (here (src# % 4) + 1) → deterministic hash keep-rates
    approximating a 50% budget distributed ∝ weight. Broadcast rate
    table + map-side hash filter; no data-sized shuffle."""
    docs = read_docs(spark, sf_dir)
    w = (F.substring("source", 4, 10).cast("bigint") % 4) + 1
    return domain_mix_sample(
        docs, key_col="doc_id", domain_col="source",
        weight_expr=w, budget_ppm=500_000,
    )


_H60_DOCID_MIX = DUCK_H60.format(col="CAST(d.doc_id AS VARCHAR)")
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


def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample of the events stream: 10% of
    clicks, 50% of purchases, all errors — membership is a pure function
    of the event id's portable hash (operators/sampling.py), so the
    sample is identical across runs, partitionings, and engines."""
    ev = load_events(spark, sf_dir)
    out = hash_stratified_sample(
        ev, "event_type", "event_id",
        {"click": 1000, "purchase": 5000, "error": 10000},
    )
    return out.select("event_id", "user_id", "event_type", "ts")


_H60_EVENT = DUCK_H60.format(col="CAST(event_id AS VARCHAR)")

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
    docs = read_docs(spark, sf_dir)
    q = text.add_quality_scores(docs.select("doc_id", "text"))
    good = q.filter((F.col("n_words") >= 30) & (F.col("stopword_bp") >= 100))
    keepers = dedup.exact_dup_groups(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    kept = good.join(keepers, "doc_id", "left_semi")
    return hash_sample(kept, "doc_id", 5000).select(
        "doc_id", "n_words", "stopword_bp"
    )


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
  AND ({H60_DOC_ID}) % 10000 < 5000
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
    docs = read_docs(spark, sf_dir)
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


def x_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped curriculum selection: each source contributes its
    best-quality docs (type-token-ratio bp, the lexical-diversity
    proxy) until a 600-token domain budget fills — the quota-filling
    data-mixing step (operators/sampling.py::token_budget_select).
    The Spark side computes the running total TWO-LEVEL (bounded
    windows, sort parallelism = domains x quality buckets); the oracle
    is the naive single window per domain — matching proves the
    decomposition exact."""
    docs = read_docs(spark, sf_dir).selectExpr(
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


def x_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus subsample, k=200 — Efraimidis–Spirakis
    exponential clocks on the portable hash
    (operators/sampling.py::weighted_sample): top-k by clock is
    TakeOrderedAndProject (per-partition heaps, no data shuffle); the
    output is float-free membership."""
    return weighted_sample(
        read_docs(spark, sf_dir), "doc_id", "n_chars", k=200
    ).select("doc_id", "lang", "source", "n_chars")


SQL_SAMPLE_WEIGHTED = f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         -ln((({H60_DOC_ID}) % 1073741824 + 1) / 1073741825.0)
           / CAST(n_chars AS DOUBLE) AS clock
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, source, n_chars
FROM w ORDER BY clock, doc_id LIMIT 200
"""


def x_sample_weighted_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-weighted subsample, k=50 per group
    (operators/sampling.py::weighted_sample_grouped): A-ES clocks
    ranked by a GROUP-partitioned window — one keyed shuffle, float-
    free membership."""
    return weighted_sample_grouped(
        read_docs(spark, sf_dir), "lang", "doc_id", "n_chars", k=50
    ).select("doc_id", "lang", "source", "n_chars")


SQL_SAMPLE_WEIGHTED_GROUPED = f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY -ln((({H60_DOC_ID}) % 1073741824 + 1) / 1073741825.0)
                    / CAST(n_chars AS DOUBLE), doc_id) AS rk
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, source, n_chars FROM w WHERE rk <= 50
"""


def x_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content clusters (canonical token-set fingerprints) that straddle
    folds of a deterministic 4-way id-hash split
    (operators/sampling.py::split_leakage_audit) — the train/eval
    leakage audit; one fingerprint-keyed agg, O(n_folds) state."""
    return split_leakage_audit(
        read_table(spark, sf_dir, "documents"), id_col="doc_id", n_folds=4
    )


SQL_SPLIT_LEAKAGE_AUDIT = f"""
WITH tagged AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             string_split(lower(text), ' '))), ' ')) AS fingerprint,
         CAST(({H60_DOC_ID}) % 4 AS INTEGER) AS fold
  FROM documents
)
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fold) AS INTEGER) AS n_folds_hit,
       array_to_string(list_sort(list(DISTINCT fold)), ',') AS folds,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM tagged GROUP BY 1 HAVING COUNT(DISTINCT fold) >= 2
"""


def x_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class balancing of documents by language
    (operators/sampling.py::balanced_downsample): every language keeps
    its first-k docs by portable hash, k = smallest class size."""
    return balanced_downsample(
        read_table(spark, sf_dir, "documents"), class_col="lang", key_col="doc_id"
    )


SQL_BALANCED_DOWNSAMPLE = f"""
WITH base AS (
  SELECT lang AS class, doc_id AS key, ({H60_DOC_ID}) AS h
  FROM documents WHERE lang IS NOT NULL
), k AS (
  SELECT MIN(n) AS k
  FROM (SELECT COUNT(*) AS n FROM base GROUP BY class)
), ranked AS (
  SELECT class, key,
         ROW_NUMBER() OVER (PARTITION BY class ORDER BY h, key) AS rn
  FROM base
)
SELECT class, key FROM ranked, k WHERE rn <= k
"""


def x_stratified_kfold_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified 4-fold assignment audit over documents by lang
    (operators/sampling.py::stratified_kfold_assign)."""
    return stratified_kfold_assign(
        read_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        class_col="lang",
        n_folds=4,
    )


SQL_STRATIFIED_KFOLD_ASSIGN = f"""
WITH h AS (
  SELECT lang AS class,
         {H60_DOC_ID} AS hh, doc_id
  FROM documents
), assigned AS (
  SELECT class,
         CAST((ROW_NUMBER() OVER (PARTITION BY class
                 ORDER BY hh ASC, doc_id ASC) - 1) % 4
              AS INTEGER) AS fold
  FROM h
)
SELECT class, fold, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM assigned GROUP BY 1, 2
"""


CATALOG: dict[str, tuple] = {
    "shuffle_shards": (x_shuffle_shards, SQL_SHUFFLE_SHARDS),
    "sample_domain_mix": (x_sample_domain_mix, SQL_SAMPLE_DOMAIN_MIX),
    "sample_stratified": (x_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "corpus_curation": (x_corpus_curation, SQL_CORPUS_CURATION),
    "quality_percentile": (x_quality_percentile, SQL_QUALITY_PERCENTILE),
    "token_budget_select": (x_token_budget_select, SQL_TOKEN_BUDGET_SELECT),
    "sample_weighted": (x_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "sample_weighted_grouped": (x_sample_weighted_grouped, SQL_SAMPLE_WEIGHTED_GROUPED),
    "split_leakage_audit": (x_split_leakage_audit, SQL_SPLIT_LEAKAGE_AUDIT),
    "balanced_downsample": (x_balanced_downsample, SQL_BALANCED_DOWNSAMPLE),
    "stratified_kfold_assign": (x_stratified_kfold_assign, SQL_STRATIFIED_KFOLD_ASSIGN),
}
