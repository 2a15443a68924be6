"""Text analysis over the documents table (``operators/text.py``):
tokenizing, quality and repetition scoring, language id and its label
audits, TF-IDF, PII scrubbing, contamination, chunking and packing, BPE
training and encoding, n-gram language models and corpus statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdcm_etl_spark.catalog.sampling import H60_DOC_ID
from pdcm_etl_spark.operators import text
from pdcm_etl_spark.operators.text import (
    bigram_pmi_topk,
    char_class_profile,
    dup_cluster_histogram,
    dup_rate_by_source,
    label_distinctive_terms,
    label_noise_audit,
    lang_confusion,
    ngram_novelty,
    source_token_overlap,
    token_frequency_spectrum,
    vocab_accumulation,
)
from pdcm_etl_spark.sources.lake import read_docs, read_table

# DuckDB side of the token-set fingerprint: md5 of the sorted distinct tokens
TOKEN_SET_FP = (
    "md5(array_to_string(list_sort(list_distinct("
    "string_split(lower(text), ' '))), ' '))"
)


def x_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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


def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
    return text.add_fingerprint(docs).drop("text")


SQL_TEXT_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
FROM documents
"""


def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by rational tf-idf
    (operators/text.py::tfidf_top_terms) — exact across engines (no
    libm log at a floor boundary)."""
    docs = read_docs(spark, sf_dir)
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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


def x_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking with overlap (128-token windows, 32-token
    overlap) — the LLM context-window preprocessing step. One output row
    per chunk; no shuffle (chunk starts via sequence + posexplode)."""
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("text")
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


def x_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of distributed BPE training statistics: corpus word
    frequencies → per-vocabulary-word adjacent character pairs weighted
    by frequency → global top-50 merge candidates."""
    docs = read_docs(spark, sf_dir).select("text")
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
    docs = read_docs(spark, sf_dir).select("text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
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


def x_corpus_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus composition (docs, whitespace tokens,
    integer-ppm token share) — one hash agg + a one-row broadcast
    total."""
    docs = read_docs(spark, sf_dir).select("lang", "text")
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


def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: shard-parallel contiguous fill
    of 2048-token bins in deterministic id order."""
    docs = read_docs(spark, sf_dir)
    return text.pack_documents(docs, token_budget=2048, n_shards=8)


SQL_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         ({H60_DOC_ID}) % 8 AS shard
  FROM documents
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard, n_tokens,
       CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM toks
WINDOW w AS (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def x_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/text.py::bigram_lm_score):
    transition-probability upgrade of the unigram CCNet filter —
    map-side bigram extraction (slice+zip, no positional self-join),
    one bigram-vocab agg whose exchange the w1-marginal reuses, one
    (w1,w2) join, one doc agg. Integer-ppm exact."""
    docs = read_docs(spark, sf_dir).select("doc_id", "text")
    return text.bigram_lm_score(docs)


SQL_BIGRAM_LM_SCORE = """
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), w -> w != '') AS w
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS b
  FROM ws WHERE len(w) >= 2
),
db AS (SELECT doc_id AS id, b.w1 AS w1, b.w2 AS w2 FROM bi),
v2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM db GROUP BY w1, w2),
m1 AS (SELECT w1, SUM(c2) AS c1 FROM v2 GROUP BY w1),
sv AS (
  SELECT w1, w2, (c2 * 1000000) // c1 AS p_ppm
  FROM v2 JOIN m1 USING (w1)
)
SELECT d.id AS doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(s.p_ppm) // COUNT(*) AS BIGINT) AS lm2_score_ppm,
       CAST(MIN(s.p_ppm) AS BIGINT) AS min_cond_ppm
FROM db d JOIN sv s USING (w1, w2)
GROUP BY d.id
"""


def x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty per document (operators/text.py::ngram_novelty):
    ppm of each doc's distinct shingles first seen (min doc_id) in that
    doc — the curation signal between dedup and quality scoring. One
    shingle-keyed window, one doc-keyed agg, no self-join."""
    return ngram_novelty(read_table(spark, sf_dir, "documents"))


SQL_NGRAM_NOVELTY = """
WITH ws AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, i + 1, i + 3), ' ') AS shingle
  FROM (
    SELECT doc_id, w, unnest(range(greatest(len(w) - 2, 0))) AS i FROM ws
  )
), firsts AS (
  SELECT doc_id, shingle,
         MIN(doc_id) OVER (PARTITION BY shingle) AS first_id
  FROM sh
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM firsts GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(p.n_novel, 0) AS n_novel,
       CAST(CASE WHEN p.n_shingles IS NULL OR p.n_shingles = 0 THEN NULL
            ELSE (CAST(p.n_novel AS HUGEINT) * 1000000) // p.n_shingles
            END AS BIGINT) AS novelty_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def x_bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word-bigram collocations by exact-rational PMI rank
    (operators/text.py::bigram_pmi_topk): the multi-word-unit miner —
    vocabulary-sized count joins, TakeOrderedAndProject cut."""
    return bigram_pmi_topk(read_table(spark, sf_dir, "documents"))


SQL_BIGRAM_PMI_TOPK = """
WITH ws AS (
  SELECT list_filter(string_split(lower(text), ' '), w -> w <> '') AS w
  FROM documents
), bi AS (
  SELECT w[i + 1] AS w1, w[i + 2] AS w2
  FROM (SELECT w, unnest(range(greatest(len(w) - 1, 0))) AS i FROM ws)
), pairs AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_n
  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 3
), uni AS (
  SELECT u AS w, CAST(COUNT(*) AS BIGINT) AS w_n
  FROM (SELECT unnest(w) AS u FROM ws) GROUP BY 1
)
SELECT p.w1, p.w2, p.pair_n, u1.w_n AS w1_n, u2.w_n AS w2_n,
       CAST((CAST(p.pair_n AS HUGEINT) * 1000000000000)
            // (CAST(u1.w_n AS HUGEINT) * u2.w_n) AS BIGINT)
         AS pmi_score_e12
FROM pairs p JOIN uni u1 ON p.w1 = u1.w JOIN uni u2 ON p.w2 = u2.w
ORDER BY pmi_score_e12 DESC, p.w1, p.w2
LIMIT 50
"""


def x_source_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary Jaccard between every source pair
    (operators/text.py::source_token_overlap): per-token source sets +
    map-side pair explode — no token self-join on the Spark side (the
    oracle may self-join; it is correctness-only)."""
    return source_token_overlap(read_table(spark, sf_dir, "documents"))


SQL_SOURCE_TOKEN_OVERLAP = """
WITH ts AS (
  SELECT DISTINCT u AS tok, source AS src
  FROM (
    SELECT source,
           unnest(list_filter(string_split(lower(text), ' '),
                  w -> w <> '')) AS u
    FROM documents
  )
), vocab AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS vocab FROM ts GROUP BY 1
), pairs AS (
  SELECT a.src AS source_a, b.src AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ts a JOIN ts b ON a.tok = b.tok AND a.src < b.src
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, va.vocab AS vocab_a, vb.vocab AS vocab_b,
       p.n_shared,
       CAST((CAST(p.n_shared AS HUGEINT) * 1000000)
            // (va.vocab + vb.vocab - p.n_shared) AS BIGINT)
         AS jaccard_ppm
FROM pairs p
JOIN vocab va ON p.source_a = va.src
JOIN vocab vb ON p.source_b = vb.src
"""


def x_vocab_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over 10 doc-id buckets
    (operators/text.py::vocab_accumulation): first-seen decomposition
    on tokens — new-vocab and cumulative vocab per corpus slice."""
    return vocab_accumulation(read_table(spark, sf_dir, "documents"))


SQL_VOCAB_ACCUMULATION = """
WITH toks AS (
  SELECT doc_id AS id, u AS tok
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_filter(string_split(lower(text), ' '),
                  w -> w <> ''))) AS u
    FROM documents
  )
), b AS (
  SELECT CAST(MIN(id) AS BIGINT) AS lo, CAST(MAX(id) AS BIGINT) AS hi
  FROM toks
), fs AS (
  SELECT tok,
         MIN(CAST(((id - lo) * 10) // (hi - lo + 1) AS INTEGER)) AS bucket
  FROM toks, b GROUP BY 1
), pb AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_tokens
  FROM fs GROUP BY 1
)
SELECT bucket, n_new_tokens,
       CAST(SUM(n_new_tokens) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_vocab
FROM pb
"""


def x_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix with per-declared
    shares (operators/text.py::lang_confusion) — the label-quality
    audit before trusting language-filtered training mixes."""
    return lang_confusion(read_table(spark, sf_dir, "documents"))


SQL_LANG_CONFUSION = """
WITH base AS (
  SELECT lang, string_split(lower(text), ' ') AS w FROM documents
), scored AS (
  SELECT lang AS declared_lang,
    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','is')))
         AS BIGINT) AS s_en,
    CAST(len(list_filter(w, x -> x IN ('der','die','und','das','ist')))
         AS BIGINT) AS s_de,
    CAST(len(list_filter(w, x -> x IN ('le','la','et','les','est')))
         AS BIGINT) AS s_fr,
    CAST(len(list_filter(w, x -> x IN ('el','los','y','una','es')))
         AS BIGINT) AS s_es
  FROM base
), pred AS (
  SELECT declared_lang,
    CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
           THEN 'en'
         WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
         WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
         WHEN s_es > 0 THEN 'es'
         ELSE 'unknown' END AS detected_lang
  FROM scored
), cells AS (
  SELECT declared_lang, detected_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT declared_lang, detected_lang, n_docs,
       CAST((CAST(n_docs AS HUGEINT) * 1000000)
            // SUM(n_docs) OVER (PARTITION BY declared_lang)
            AS BIGINT) AS share_ppm
FROM cells
"""


def x_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram over content fingerprints
    (operators/text.py::dup_cluster_histogram) — the corpus-health
    one-pager behind the dedup family."""
    return dup_cluster_histogram(read_table(spark, sf_dir, "documents"))


SQL_DUP_CLUSTER_HISTOGRAM = f"""
WITH f AS (
  SELECT {TOKEN_SET_FP} AS fp FROM documents
), sizes AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM f GROUP BY 1
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""


def x_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content clusters carrying conflicting lang labels
    (operators/text.py::label_noise_audit)."""
    return label_noise_audit(read_table(spark, sf_dir, "documents"))


SQL_LABEL_NOISE_AUDIT = f"""
WITH fp AS (
  SELECT {TOKEN_SET_FP} AS fingerprint, COALESCE(lang, '') AS lbl FROM documents
), per AS (
  SELECT fingerprint, lbl, CAST(COUNT(*) AS BIGINT) AS n
  FROM fp GROUP BY 1, 2
), agg AS (
  SELECT fingerprint,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS INTEGER) AS n_labels,
         array_to_string(list_sort(list(lbl)), ',') AS labels,
         MIN({{'nn': -n, 'lbl': lbl}}) AS best
  FROM per GROUP BY 1
)
SELECT fingerprint, n_docs, n_labels, labels,
       (best).lbl AS majority_label,
       CAST(-((best).nn) AS BIGINT) AS majority_n
FROM agg WHERE n_labels >= 2
"""


def x_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate scorecard
    (operators/text.py::dup_rate_by_source)."""
    return dup_rate_by_source(read_table(spark, sf_dir, "documents"))


SQL_DUP_RATE_BY_SOURCE = f"""
WITH fp AS (
  SELECT COALESCE(source, '') AS src, {TOKEN_SET_FP} AS fingerprint FROM documents
), per_sf AS (
  SELECT src, fingerprint, CAST(COUNT(*) AS BIGINT) AS n
  FROM fp GROUP BY 1, 2
), gl AS (
  SELECT fingerprint, CAST(COUNT(DISTINCT src) AS INTEGER) AS nsrc
  FROM fp GROUP BY 1
)
SELECT src AS source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n) AS BIGINT)
         AS dup_rate_ppm,
       CAST(SUM(CASE WHEN nsrc >= 2 THEN n ELSE 0 END) * 1000000
            // SUM(n) AS BIGINT) AS cross_source_ppm
FROM per_sf JOIN gl USING (fingerprint)
GROUP BY 1
"""


def x_token_frequency_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zipf spectrum: vocabulary + occurrence mass per log2-frequency
    bucket with cumulative share from the common end
    (operators/text.py::token_frequency_spectrum)."""
    return token_frequency_spectrum(read_table(spark, sf_dir, "documents"))


SQL_TOKEN_FREQUENCY_SPECTRUM = """
WITH tok AS (
  SELECT w FROM documents,
         unnest(string_split(lower(text), ' ')) AS u(w)
  WHERE w <> ''
), freqs AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY 1
), buckets AS (
  SELECT CAST(FLOOR(log2(f)) AS INTEGER) AS freq_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(f) AS BIGINT) AS n_occurrences
  FROM freqs GROUP BY 1
)
SELECT freq_bucket, n_tokens, n_occurrences,
       CAST(SUM(n_occurrences) OVER (ORDER BY freq_bucket DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000
            // SUM(n_occurrences) OVER () AS BIGINT) AS cum_share_ppm
FROM buckets
"""


def x_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source
    (operators/text.py::char_class_profile)."""
    return char_class_profile(read_table(spark, sf_dir, "documents"))


SQL_CHAR_CLASS_PROFILE = """
WITH per AS (
  SELECT COALESCE(source, '') AS source,
         CAST(length(text) AS BIGINT) AS n,
         CAST(length(text)
              - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
              AS BIGINT) AS a,
         CAST(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS d,
         CAST(length(text) - length(replace(text, ' ', ''))
              AS BIGINT) AS s
  FROM documents
), agg AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_chars,
         CAST(SUM(a) AS BIGINT) AS ta,
         CAST(SUM(d) AS BIGINT) AS td,
         CAST(SUM(s) AS BIGINT) AS ts
  FROM per GROUP BY 1
)
SELECT source, n_chars,
       CAST(ta * 1000000 // n_chars AS BIGINT) AS alpha_ppm,
       CAST(td * 1000000 // n_chars AS BIGINT) AS digit_ppm,
       CAST(ts * 1000000 // n_chars AS BIGINT) AS space_ppm,
       CAST(1000000 - (ta * 1000000 // n_chars)
            - (td * 1000000 // n_chars)
            - (ts * 1000000 // n_chars) AS BIGINT) AS other_ppm
FROM agg WHERE n_chars > 0
"""


def x_label_distinctive_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 most distinctive terms per language by exact integer lift
    (operators/text.py::label_distinctive_terms)."""
    return label_distinctive_terms(
        read_table(spark, sf_dir, "documents"), label_col="lang", k=5, min_count=5
    )


SQL_LABEL_DISTINCTIVE_TERMS = """
WITH tok AS (
  SELECT COALESCE(lang, '') AS label, w AS term
  FROM documents, unnest(string_split(lower(text), ' ')) AS u(w)
  WHERE w <> ''
), lt AS (
  SELECT label, term, CAST(COUNT(*) AS BIGINT) AS n_lt
  FROM tok GROUP BY 1, 2
), t AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_t FROM tok GROUP BY 1
), lab AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label FROM tok GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok),
scored AS (
  SELECT label, term, n_lt AS n_in_label,
         CAST((CAST(n_lt AS HUGEINT) * n_total * 1000000)
              // (CAST(n_t AS HUGEINT) * n_label) AS BIGINT) AS lift_ppm
  FROM lt JOIN t USING (term) JOIN lab USING (label), tot
  WHERE n_lt >= 5
)
SELECT label, term, n_in_label, lift_ppm, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
            ORDER BY lift_ppm DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


CATALOG: dict[str, tuple] = {
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
    "bpe_pair_counts": (x_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "bpe_train": (x_bpe_train, _sql_bpe_train(4)),
    "bpe_encode": (x_bpe_encode, _sql_bpe_encode(4)),
    "unigram_lm_score": (x_unigram_lm_score, SQL_UNIGRAM_LM_SCORE),
    "inverted_index": (x_inverted_index, SQL_INVERTED_INDEX),
    "corpus_language_mix": (x_corpus_language_mix, SQL_CORPUS_LANGUAGE_MIX),
    "pack_sequences": (x_pack_sequences, SQL_PACK_SEQUENCES),
    "bigram_lm_score": (x_bigram_lm_score, SQL_BIGRAM_LM_SCORE),
    "ngram_novelty": (x_ngram_novelty, SQL_NGRAM_NOVELTY),
    "bigram_pmi_topk": (x_bigram_pmi_topk, SQL_BIGRAM_PMI_TOPK),
    "source_token_overlap": (x_source_token_overlap, SQL_SOURCE_TOKEN_OVERLAP),
    "vocab_accumulation": (x_vocab_accumulation, SQL_VOCAB_ACCUMULATION),
    "lang_confusion": (x_lang_confusion, SQL_LANG_CONFUSION),
    "dup_cluster_histogram": (x_dup_cluster_histogram, SQL_DUP_CLUSTER_HISTOGRAM),
    "label_noise_audit": (x_label_noise_audit, SQL_LABEL_NOISE_AUDIT),
    "dup_rate_by_source": (x_dup_rate_by_source, SQL_DUP_RATE_BY_SOURCE),
    "token_frequency_spectrum": (
        x_token_frequency_spectrum,
        SQL_TOKEN_FREQUENCY_SPECTRUM,
    ),
    "char_class_profile": (x_char_class_profile, SQL_CHAR_CLASS_PROFILE),
    "label_distinctive_terms": (x_label_distinctive_terms, SQL_LABEL_DISTINCTIVE_TERMS),
}
