"""Text-analysis operators for a training-data pipeline.

All pure column expressions / higher-order functions — JVM-side,
whole-stage-codegen'd, no Python in the hot path. Each operator keeps the
determinism rules from plans/catalog.py (floor-basis-points instead of
round; md5 for fingerprints) so it can be oracle-checked cross-engine.

Scale: every operator here is embarrassingly parallel (per-row), so the
plan is a single mapPartitions-free Project over the scan — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdcm_etl_spark.operators.sharing import shared

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "una", "es"),
}

STOPWORDS = LANG_MARKERS["en"]


def words(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.lower(text), " ")


def marker_count(ws: Column, markers: tuple[str, ...]) -> Column:
    """# tokens that are in the marker set (higher-order filter, no UDF)."""
    lits = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(ws, lambda w: F.array_contains(lits, w)))


def floor_bp(num: Column, den: Column) -> Column:
    """Deterministic ratio in basis points: floor(num * 10000 / den)."""
    return F.floor(num * F.lit(10000.0) / den).cast("bigint")


def add_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, regex word tokens, and a BPE-ish
    subword estimate (ceil(len(word)/4) summed — the standard ~4-chars-per-
    token heuristic).

    The token array is materialized once into a temp column: expressions
    referenced from higher-order-function lambdas are re-evaluated per
    element (no CSE across the lambda boundary), so computing from the
    split expression directly re-tokenizes per token."""
    df = df.withColumn("__ws", words(F.col(text_col)))
    ws = F.col("__ws")
    return (
        df.withColumn("n_ws_tokens", F.size(ws).cast("bigint"))
        .withColumn(
            "n_re_tokens",
            F.expr(f"size(regexp_extract_all({text_col}, '[a-z0-9]+', 0))").cast(
                "bigint"
            ),
        )
        .withColumn(
            "n_bpe_est",
            F.aggregate(
                F.transform(ws, lambda w: F.ceil(F.length(w) / F.lit(4.0)).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .drop("__ws")
    )


def add_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, word count, stopword ratio, mean word
    length — the length/punct/stopword-ratio family. Ratios in floor-bp.
    Tokenizes once into a temp column (see add_token_counts)."""
    df = df.withColumn("__ws", words(F.col(text_col)))
    ws = F.col("__ws")
    n_words = F.size(ws)
    n_stop = marker_count(ws, STOPWORDS)
    total_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.withColumn("n_chars_calc", F.length(text_col).cast("bigint"))
        .withColumn("n_words", n_words.cast("bigint"))
        .withColumn("n_stopwords", n_stop.cast("bigint"))
        .withColumn("stopword_bp", floor_bp(n_stop, n_words))
        .withColumn("mean_word_len_bp", floor_bp(total_chars, n_words))
        .drop("__ws")
    )


def add_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID by stopword-marker voting with a deterministic
    tie-break order (en > de > fr > es > unknown).
    Tokenizes once into a temp column (see add_token_counts)."""
    df = df.withColumn("__ws", words(F.col(text_col)))
    ws = F.col("__ws")
    scores = {k: marker_count(ws, v) for k, v in LANG_MARKERS.items()}
    out = df
    for k, c in scores.items():
        out = out.withColumn(f"s_{k}", c.cast("bigint"))
    s = {k: F.col(f"s_{k}") for k in scores}
    pred = (
        F.when(
            (s["en"] > 0)
            & (s["en"] >= s["de"])
            & (s["en"] >= s["fr"])
            & (s["en"] >= s["es"]),
            "en",
        )
        .when((s["de"] > 0) & (s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when((s["fr"] > 0) & (s["fr"] >= s["es"]), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("unknown")
    )
    return out.withColumn("pred_lang", pred).drop("__ws")


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set (the
    canonical 'fingerprint clustering' key — order/duplication-insensitive)."""
    canon = F.array_join(F.array_sort(F.array_distinct(words(F.col(text_col)))), " ")
    return df.withColumn("fingerprint", F.md5(canon))


def ngram_counts(df: DataFrame, n: int = 2, text_col: str = "text") -> DataFrame:
    """Corpus-wide word n-gram counts — the vocabulary/statistics pass a
    training pipeline runs before tokenizer training or contamination
    screens. Unlike the dedup shingler this keeps per-document repeats
    (counting, not set membership).

    Scale: map-side n-gram generation (split + slice, no UDF) into one
    hash aggregation with map-side partial counts — the same shape as a
    word-count, no matter the corpus size."""
    ws = F.split(F.lower(F.col(text_col)), " ")
    pre = df.select(ws.alias("ws"))
    grams = F.when(
        F.size("ws") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - F.lit(n - 1)),
            lambda i: F.array_join(F.slice("ws", i, n), " "),
        ),
    ).otherwise(F.array())
    return (
        pre.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by a tf-idf score.

    Score = tf × N / (df × doclen), scaled to basis points and floored —
    rational arithmetic over exact integers instead of ln()-based idf, so
    Spark and DuckDB produce bit-identical scores (libm log rounding is
    not guaranteed identical across engines; a floor() at the boundary
    would flip). Ranking ties break on the term string.

    Scale: two hash aggregations (term-per-doc counts, document
    frequencies) + a broadcast of the global doc count + one window for
    top-k — no cross joins; df table is |vocabulary|-sized.
    """
    from pyspark.sql import Window

    # ONE pass over the exploded token stream: tf is the only consumer
    # of toks (so the corpus-sized explode is never materialized — the
    # r11 A/B measured sharing IT as a net loss), and doclen is derived
    # FROM tf (sum of per-term counts ≡ token count per doc), so the
    # second token-stream aggregation disappears entirely. tf itself is
    # (doc × distinct-term)-sized and feeds doclen, dfreq AND the
    # scoring join — compute-once shared (operators/sharing.py).
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
    )
    tf = shared(
        toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    doclen = tf.groupBy("id").agg(F.sum("tf").alias("doclen"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    score = F.floor(
        F.col("tf") * F.lit(10000.0) * F.col("n")
        / (F.col("df") * F.col("doclen"))
    ).cast("bigint")
    w = Window.partitionBy("id").orderBy(
        F.col("score_bp").desc(), F.col("term").asc()
    )
    return (
        tf.join(doclen, "id")
        # term join co-partitions with the dfreq aggregation's shuffle;
        # broadcasting a 100 TB corpus's vocabulary would not scale
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score_bp", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("id").alias("doc_id"), "term", "score_bp",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def pack_documents(
    df: DataFrame,
    token_budget: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins (sequence
    packing): contiguous greedy fill in deterministic id order.

    A global greedy pack is inherently sequential, so packing runs per
    *shard* (portable hash of the id → ``n_shards``): within each shard a
    running token cumsum assigns bin = floor(start_offset / budget).
    Shards pack in parallel — the window is one shuffle partitioned by
    shard — and determinism is total (no RNG, stable order). At 100 TB
    raise ``n_shards`` to the write parallelism you want; each bin is a
    training row, each shard an independent stream of bins.
    """
    from pyspark.sql import Window

    from pdcm_etl_spark.operators.dedup import portable_hash60

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.lower(F.col(text_col)), " ")).cast("bigint").alias(
            "n_tokens"
        ),
        (portable_hash60(F.col(id_col).cast("string")) % n_shards).alias(
            "shard"
        ),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / F.lit(token_budget))
        .cast("bigint")
        .alias("bin_id"),
    )


# --------------------------------------------------------------------------
# PII scrubbing / benchmark contamination / repetition quality signals
# (training-data curation companions to the quality scores above)
# --------------------------------------------------------------------------

# regex dialect constraint: patterns must mean the same thing under Java
# regex (Spark) and RE2 (the DuckDB oracle) — \b, (?:), {m,n} only
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-. ]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def scrub_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4s, with per-class match counts
    and a digest of the redacted text (auditable without shipping it).

    Pure column expressions — one codegen'd pass over the text, no UDF;
    at corpus scale this is a map-side scan."""
    counts = [
        # F.regexp_extract_all with a lit pattern — dodges SQL string-
        # literal escape handling for the backslashes
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    return df.select(
        F.col(id_col), *counts, F.md5(clean).alias("clean_text_md5")
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document, the
    number of distinct word n-grams it shares with ANY benchmark (eval
    set) document. The benchmark shingle set is tiny relative to the
    corpus → broadcast, so the check is one map-side semi-ish join plus
    a per-doc count — no corpus×benchmark pair space.

    Returns (doc_id, n_shared_shingles, contaminated)."""
    from pdcm_etl_spark.operators.dedup import shingles

    corpus_sh = shingles(docs, id_col, text_col, n)
    bench_sh = F.broadcast(
        shingles(benchmark, id_col, text_col, n).select("shingle").distinct()
    )
    hits = (
        corpus_sh.join(bench_sh, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            (F.coalesce("n_shared_shingles", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def add_repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repetition quality signals (the duplicate-fraction family of
    corpus filters): duplicate-word fraction and top-word fraction, in
    basis points. dup_word_bp is a pure column expression; top_word_bp
    takes one explode + two-level aggregation (map-side combine on
    (doc, word))."""
    ws = words(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(ws).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("n_distinct_words"),
        F.explode(ws).alias("word"),
    )
    per_word = base.groupBy("doc_id", "n_words", "n_distinct_words", "word").agg(
        F.count(F.lit(1)).alias("wc")
    )
    return per_word.groupBy("doc_id", "n_words", "n_distinct_words").agg(
        floor_bp(F.max("wc"), F.col("n_words")).alias("top_word_bp"),
        floor_bp(
            F.col("n_words") - F.col("n_distinct_words"), F.col("n_words")
        ).alias("dup_word_bp"),
    ).select("doc_id", "n_words", "n_distinct_words", "dup_word_bp", "top_word_bp")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Fixed-window document chunking with overlap — the standard LLM
    context-window preprocessing step (split long documents into
    ``chunk_size``-token windows that share ``overlap`` tokens with their
    predecessor so no span is cut mid-context).

    Pure column expressions: tokenize once, build the start offsets with
    ``sequence`` (1-based, stride ``chunk_size - overlap``, last window
    truncated at the document end), slice + re-join per window, and
    ``posexplode`` into one row per chunk. Per-row independent → single
    Project over the scan, no shuffle, chunk counts scale with document
    length not corpus size.

    Output: (``id_col``, chunk_index, chunk_text, chunk_tokens).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    step = chunk_size - overlap
    base = df.withColumn("__toks", words(F.col(text_col))).withColumn(
        "__n", F.size(F.col("__toks"))
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("__n") - overlap, F.lit(1)), F.lit(step)
    )
    chunks = F.transform(
        starts,
        lambda s: F.array_join(F.slice(F.col("__toks"), s, chunk_size), " "),
    )
    return (
        base.select(
            id_col,
            "__n",
            F.posexplode(chunks).alias("chunk_index", "chunk_text"),
        )
        .select(
            id_col,
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            "chunk_text",
            # chunk_index widened before the multiply — int32 dies on a
            # pathological 2^31/step-chunk document
            F.least(
                F.lit(chunk_size),
                F.col("__n")
                - F.col("chunk_index").cast("bigint") * step,
            ).cast("bigint").alias("chunk_tokens"),
        )
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """The distributed core of BPE tokenizer training (Sennrich et al.
    2016, arXiv:1508.07909): symbol-pair frequencies over the corpus
    vocabulary — the statistic each merge round maximizes. One round
    computed Spark-side:

      1. word frequencies (one shuffle on the word — map-side partial
         counts, so the shuffle is vocabulary-sized, not corpus-sized);
      2. per distinct word, adjacent character pairs weighted by the
         word's corpus frequency (map-side array expression — pair
         generation runs over the VOCABULARY, the classic BPE trick:
         corpus size never touches the pair scan);
      3. global pair ranking: sum(freq) per pair, top-k by (count desc,
         pair asc) — TakeOrderedAndProject, no global sort.

    A full BPE trainer iterates: apply the winning merge to the
    vocabulary (a map-side regexp on the distinct words) and recount.
    Returns (pair, n) — the merge-candidate ranking of round one.
    """
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # pair i = chars [i, i+1], via substr over the word directly
    pairs = F.when(
        F.length("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array())
    return (
        words.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 4
) -> DataFrame:
    """Full iterative BPE training loop (Sennrich et al. 2016,
    arXiv:1508.07909): ``n_merges`` rounds of count-pairs → pick the
    winning pair (max count, ties to lexicographically smallest) → apply
    the merge greedily left-to-right to the vocabulary's symbol
    sequences. Returns the merge table (r, a, b, merged, n) — the
    artifact a BPE tokenizer ships.

    Scale design: ALL per-round work runs over the DISTINCT-WORD
    vocabulary (corpus size touches only the initial word count), the
    winner is a 1-row collect per round (scalar-scale, like the k-means
    centroid rows), and the merge application is a map-side array fold —
    no shuffle beyond the per-round pair aggregation. The greedy
    left-to-right non-overlap rule is the fold "if last(out)==a and
    x==b, replace last with merged" — equivalent to keeping alternating
    matches within each run of consecutive matches (only a==b produces
    runs), which is how the DuckDB oracle expresses it positionally.
    """
    from pdcm_etl_spark.functions.local_table import values_table

    merges, _ = _bpe_vocab_loop(df, text_col, n_merges)
    return values_table(
        df.sparkSession, merges, "r int, a string, b string, merged string, n bigint"
    )


def _bpe_vocab_loop(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """Shared BPE training loop: returns (merge table rows, final vocab
    DataFrame (w, syms, freq)). Each round's vocabulary is cut with an
    eager ``localCheckpoint``, so lineage stays one round deep."""
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    vocab = words.select(
        "w", chars.alias("syms"), "freq"
    ).localCheckpoint(eager=True)
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        pair_arr = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.element_at("syms", i + 1).alias("a"),
                    F.element_at("syms", i + 2).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        win = (
            vocab.select(F.explode(pair_arr).alias("p"), "freq")
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not win:
            break
        a, b, n = win[0]["a"], win[0]["b"], int(win[0]["n"])
        merged = a + b
        merges.append((r, a, b, merged, n))
        new_syms = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select(
            "w", new_syms.alias("syms"), "freq"
        ).localCheckpoint(eager=True)
    return merges, vocab


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
) -> DataFrame:
    """Tokenize the corpus with a freshly-trained BPE merge table — the
    inference half of BPE (train on the same corpus, then encode it).
    Per document: token count after ``n_merges`` merges and the
    chars-per-token compression in basis points.

    Scale: the encode itself is a join of the corpus words against the
    DISTINCT-WORD vocabulary's final symbol sequences (shuffle on the
    word — or a broadcast when the vocab is small), then a per-doc sum.
    No per-document merge re-application: every occurrence of a word
    tokenizes identically, so the work is vocabulary-sized.

    Returns (``id_col``, n_words, n_chars, n_tokens, compression_bp)
    with compression_bp = floor(10000 * n_tokens / n_chars).
    """
    _, vocab = _bpe_vocab_loop(df, text_col, n_merges)
    doc_words = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    toks = vocab.select("w", F.size("syms").alias("w_tokens"))
    return (
        doc_words.join(toks, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("w_tokens").alias("n_tokens"),
        )
        .select(
            "id",
            "n_words",
            "n_chars",
            "n_tokens",
            # integer floor division — exact, engine-identical (a double
            # divide would round differently from DuckDB's // on HUGEINT)
            F.expr("(n_tokens * 10000) div n_chars").alias("compression_bp"),
        )
    )


def unigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model quality scoring — the LM-filter step of
    corpus curation pipelines (CCNet, arXiv:1911.00359, scores documents
    with a LM trained on trusted text; here the model is a unigram LM
    trained on the corpus itself, the self-scoring variant): documents
    made of frequent words score high, documents of rare/garbage tokens
    score low.

    All arithmetic is integer so the oracle is exact: each word's corpus
    frequency is pre-quantized to ppm (``(count * 1e6) div N``, bounded
    ≤ 1e6 so per-doc sums never overflow), and the doc score is the mean
    word-frequency in ppm. ``hapax_bp`` (share of corpus-hapax words —
    frequency 1, the classic OOV/noise proxy) and ``rarest_count`` (the
    rarest word's corpus count) complete the filter signals.

    Scale: one word-count aggregation (map-side combine), one scalar
    (1-row) total collect, one corpus-words × vocabulary equi join —
    shuffle on the word; AQE's skew-join handles the stop-word head —
    and one per-doc aggregation. No data-sized collect, no UDF.

    Returns (``id_col``, n_words, lm_score_ppm, hapax_bp, rarest_count).
    """
    # doc_words feeds the vocab aggregation AND the scoring join; vocab
    # feeds the scalar-total ACTION and the scored projection — without
    # sharing, the corpus is scanned+exploded three times per call
    # (operators/sharing.py)
    doc_words = shared(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    vocab = shared(
        doc_words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    # corpus size: scalar-bounded collect (one row), same policy as the
    # k-means centroid / streaming-span collects
    n_total = vocab.agg(F.sum("c").alias("n")).collect()[0]["n"]
    scored_vocab = vocab.select(
        "w",
        "c",
        # c can reach corpus word count (~2e13 words at 100 TB of text):
        # c * 1e6 passes int64 at 9.2e12 and ANSI Spark aborts — ride
        # DECIMAL(38,0) (the r5/r6 overflow-audit class)
        F.expr(
            f"CAST((CAST(c AS DECIMAL(38,0)) * 1000000) div {n_total}"
            " AS BIGINT)"
        ).alias("f_ppm"),
    )
    return (
        doc_words.join(scored_vocab, "w")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            # f_ppm is bigint (div); decimal accumulator for the per-doc
            # sum — same hardening as bigram_lm_score
            F.sum(F.col("f_ppm").cast("decimal(38,0)")).alias("__s"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("__hapax"),
            F.min("c").alias("rarest_count"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_words",
            F.expr("__s div n_words").alias("lm_score_ppm"),
            F.expr("(__hapax * 10000) div n_words").alias("hapax_bp"),
            "rarest_count",
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 10,
    min_df: int = 3,
    sub_buckets: int = 32,
) -> DataFrame:
    """Build a term → postings inverted index over the corpus (the
    search-export side of a data pipeline): per term, document frequency,
    corpus frequency, and the first ``max_postings`` doc ids (ascending)
    as a comma-joined string (strings because array columns break the
    driver's pandas canonicalization).

    The top-``max_postings`` per term is computed WITHOUT an unbounded
    per-term sort or collect — the hot-term hazard (a stop word appears
    in every document, so a window partitioned only by term would sort a
    corpus-sized partition in one task, and a bare collect_list would
    materialize it in one aggregation buffer):

      1. hash-range sub-bucket the (term, doc_id) pairs by ``doc_id %
         sub_buckets``; a row_number window over (term, bucket) keeps the
         ``max_postings`` smallest doc ids per bucket — parallel, and the
         survivor set is ≤ max_postings · sub_buckets per term;
      2. a second window over the survivors picks the global smallest
         ``max_postings`` — bit-identical to the single-window form
         because every global top-k member is a top-k member of its
         bucket;
      3. only then collect_list (bounded at ``max_postings`` elements).

    df/cf come from plain count aggregations with map-side combine.
    """
    from pyspark.sql import Window

    # ONE pass over the exploded token stream: aggregate it straight to
    # the (term, doc) occurrence table, then derive BOTH the term stats
    # (cf = sum of per-doc counts, df = row count per term) and the
    # postings pairs from that far smaller table. The old shape ran two
    # corpus-stream aggregations (stats + distinct); the first r11
    # attempt shared the raw token stream instead, which the paired A/B
    # measured as a net loss (the materialized stream outweighs one
    # explode). per feeds stats AND the postings path — compute-once
    # shared (operators/sharing.py).
    dw = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    per = shared(
        dw.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("__n"))
    )
    stats = per.groupBy("term").agg(
        F.sum("__n").alias("cf"),
        F.count(F.lit(1)).alias("df"),
    )
    pairs = per.select("term", "doc_id")
    bucketed = pairs.withColumn("__b", F.col("doc_id") % sub_buckets)
    w1 = Window.partitionBy("term", "__b").orderBy("doc_id")
    w2 = Window.partitionBy("term").orderBy("doc_id")
    survivors = (
        bucketed.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= max_postings)
        .withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= max_postings)
    )
    postings = survivors.groupBy("term").agg(
        # sort NUMERICALLY first, stringify after (array_sort on the
        # string form would order "10" before "2")
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("postings")
    )
    return (
        stats.filter(F.col("df") >= min_df)
        .join(postings, "term")
        .select("term", "df", "cf", "postings")
    )


def language_mix(df: DataFrame, lang_col: str = "lang", text_col: str = "text") -> DataFrame:
    """Corpus composition report: per-language document and whitespace-
    token counts plus each language's integer-ppm share of all tokens —
    the summary every multilingual training-mix decision starts from
    (and the denominator sample_domain_mix rebalances against).

    One hash aggregation over the corpus; the total arrives via a
    broadcast one-row join (never a collect); share is floor-divided
    ppm so the report hashes identically across engines.

    The per-language table feeds TWO consumers (the total fold and the
    final select) — without sharing, the corpus scan + tokenizing split
    ran twice (r11 sweep: documents ×2). ``shared`` materializes the
    language-cardinality aggregate once; both consumers replay it.
    """
    per = shared(
        df.groupBy(F.col(lang_col).alias("lang")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.lower(F.col(text_col)), " ")))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").alias("__total")).withColumn(
        "__one", F.lit(1)
    )
    return (
        per.withColumn("__one", F.lit(1))
        .join(F.broadcast(total), "__one")
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.expr("(1000000 * n_tokens) div __total")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram language-model quality scoring — the conditional-
    probability upgrade of ``unigram_lm_score`` (CCNet-style LM
    filtering scores transitions, not just word frequency: garbage
    word ORDER scores low even when every word is common).

    Integer-exact like the unigram twin: each bigram's conditional
    probability P(w2|w1) is pre-quantized to ppm against the count of
    bigrams STARTING with w1 (``(c2 · 1e6) div c1`` ≤ 1e6, so per-doc
    sums never overflow), the doc score is the mean transition ppm and
    ``min_cond_ppm`` the rarest transition (the strongest single
    incoherence signal).

    Scale shape: bigrams come out of the word array MAP-SIDE
    (slice+zip — never a positional self-join of exploded words); one
    bigram-vocab aggregation; the w1 marginal re-aggregates the vocab
    (vocabulary-sized); doc_bi and vocab2 are compute-once shared
    (operators/sharing.py — the AQE ReuseExchange this shape assumed
    never fired); one (w1,w2) join; one per-doc aggregation. No
    data-sized collect, no UDF.

    Returns (``id_col``, n_bigrams, lm2_score_ppm, min_cond_ppm).
    """
    ws = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda w: w != ""
    )
    doc_bi = (
        df.select(F.col(id_col).alias("id"), ws.alias("__ws"))
        .withColumn("__n", F.greatest(F.size("__ws") - 1, F.lit(0)))
        .withColumn("__l", F.expr("slice(__ws, 1, __n)"))
        .withColumn("__r", F.expr("slice(__ws, 2, __n)"))
        .select(
            "id", F.explode(F.arrays_zip("__l", "__r")).alias("b")
        )
        .select(
            "id",
            F.col("b.__l").alias("w1"),
            F.col("b.__r").alias("w2"),
        )
    )
    # doc_bi feeds the bigram vocab AND the scoring join; vocab2 feeds
    # the w1 marginal AND the conditional projection — share both or the
    # corpus zip-explode runs three times (operators/sharing.py; the AQE
    # ReuseExchange this docstring used to rely on never fired — plan
    # capture r11 showed 3 documents scans)
    doc_bi = shared(doc_bi)
    vocab2 = shared(
        doc_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    )
    w1_tot = vocab2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = vocab2.join(w1_tot, "w1").select(
        "w1",
        "w2",
        # same DECIMAL ride as the unigram f_ppm: c2 is corpus-scale
        F.expr(
            "CAST((CAST(c2 AS DECIMAL(38,0)) * 1000000) div c1"
            " AS BIGINT)"
        ).alias("p_ppm"),
    )
    return (
        doc_bi.join(scored, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # p_ppm is bigint; decimal accumulator so a pathological
            # ~9.2e12-bigram doc can't ANSI-abort the sum
            F.sum(F.col("p_ppm").cast("decimal(38,0)")).alias("__s"),
            F.min("p_ppm").alias("min_cond_ppm"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            F.expr("__s div n_bigrams").alias("lm2_score_ppm"),
            "min_cond_ppm",
        )
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY — what share of a document's distinct
    word n-grams does the corpus see here FIRST (first = the smallest
    doc id containing the shingle)? The training-data curation signal
    between exact dedup and quality scoring: boilerplate-heavy or
    near-duplicate documents score near zero, genuinely new text near
    one. (The complement of contamination_check: that asks "seen in a
    benchmark?", this asks "seen anywhere earlier in the corpus?".)

    Exact and deterministic: shingles are the dedup kit's distinct word
    n-grams; first-occurrence is a min over a total-ordered id;
    novelty_ppm = (1e6·n_novel) div n_shingles — integer floor, no
    float ratio.

    Scale shape: ONE shingle-keyed Exchange carries the
    first-occurrence window (min(id) OVER (PARTITION BY shingle) — no
    self-join, no second scan of the shingle table); one doc-keyed
    aggregation follows; documents too short to shingle surface with
    NULL novelty via one keyed left join against the id spine. The
    shingle table is the same explode the dedup family shuffles —
    nothing here is heavier than minhash's stage one.

    Returns (doc_id, n_shingles, n_novel, novelty_ppm nullable).
    """
    from pyspark.sql import Window

    from pdcm_etl_spark.operators.dedup import shingles

    sh = shingles(docs, id_col, text_col, n)
    w = Window.partitionBy("shingle")
    per_doc = (
        sh.withColumn("__first", F.min("id").over(w))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("id") == F.col("__first"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.expr(
                "CAST(CASE WHEN n_shingles IS NULL OR n_shingles = 0"
                " THEN NULL ELSE (CAST(n_novel AS DECIMAL(38,0)) * 1000000)"
                " div n_shingles END AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


def bigram_pmi_topk(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    top_k: int = 50,
) -> DataFrame:
    """Top-k collocations: word bigrams ranked by pointwise mutual
    information — the association pass that finds multi-word units
    ("new york") before tokenizer training or phrase mining. PMI =
    log(p(xy) / (p(x)·p(y))); over a FIXED corpus the ranking is
    exactly the ranking of the rational c_xy / (c_x · c_y), so the
    score column is the EXACT integer (c_xy · 1e12) div (c_x · c_y)
    (DECIMAL(38,0): c_xy·1e12 ≤ 1e30 and c_x·c_y ≤ 1e24 at trillion-
    token scale — both inside 38 digits; no log, no float, no
    cross-engine noise). min_count prunes hapax pairs whose PMI is
    degenerately high.

    Scale shape: map-side bigram generation (split + slice — the
    ngram_counts shape), one hash agg for bigram counts, one for
    unigram counts; the two count joins hit the VOCABULARY-sized
    unigram table (bounded by distinct words, not corpus size) and the
    result is cut by TakeOrderedAndProject (top_k never sorts the full
    pair table). Ties break on the bigram string.

    Returns (w1, w2, pair_n, w1_n, w2_n, pmi_score_e12).
    """
    ws = F.filter(words(F.col(text_col)), lambda w: w != F.lit(""))
    pre = df.select(ws.alias("ws"))
    grams = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - F.lit(1)),
            lambda i: F.slice("ws", i, 2),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    pairs = (
        pre.select(F.explode(grams).alias("g"))
        .select(F.col("g")[0].alias("w1"), F.col("g")[1].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= min_count)
    )
    # the unigram table is vocabulary-sized but joined TWICE (w1, w2)
    # — without sharing each join re-runs the corpus explode+agg (3
    # source scans in the r11 sweep). The corpus-sized `pre` itself
    # stays unshared: materializing the full words arrays measured a
    # net loss (the tfidf-toks verdict).
    unigrams = shared(
        pre.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w_n"))
    )
    scored = (
        pairs.join(unigrams.withColumnRenamed("w", "w1"), "w1")
        .withColumnRenamed("w_n", "w1_n")
        .join(unigrams.withColumnRenamed("w", "w2"), "w2")
        .withColumnRenamed("w_n", "w2_n")
        .select(
            "w1",
            "w2",
            "pair_n",
            "w1_n",
            "w2_n",
            F.expr(
                "CAST((CAST(pair_n AS DECIMAL(38,0)) * 1000000000000)"
                " div (CAST(w1_n AS DECIMAL(38,0)) * w2_n) AS BIGINT)"
            ).alias("pmi_score_e12"),
        )
    )
    return scored.orderBy(
        F.col("pmi_score_e12").desc(), "w1", "w2"
    ).limit(top_k)


def source_token_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """EXACT vocabulary Jaccard between every pair of corpus sources —
    the corpus-mixing diagnostic (two crawls with 90% shared vocabulary
    are near-duplicates at the source level; a pair sharing almost
    nothing needs its own quality rules). MinHash estimates this
    per-document; across a handful of SOURCES the exact answer is
    cheap because the unit is the distinct (token, source) pair.

    Scale shape — ONE corpus scan: distinct (token, source) (one hash
    agg, vocabulary × sources sized), per-token source SETS via
    collect_set (bounded by the source count), then a single map-side
    explode emits BOTH the i<j pair contributions and the per-source
    singleton contributions, so pair counts |A∩B| and vocabulary sizes
    |A| fall out of ONE bounded aggregation; the vocab lookups are
    WINDOWS over that ≤ sources²-row frame (partition by sa / by
    coalesce(sb, sa)) — no joins, no lineage branch, so the corpus is
    scanned exactly once. |A∪B| = |A| + |B| − |A∩B|.

    Returns (source_a, source_b, vocab_a, vocab_b, n_shared,
    jaccard_ppm) for every unordered source pair with source_a <
    source_b and at least one shared token.
    """
    tok_src = (
        df.select(
            F.explode(
                F.array_distinct(
                    F.filter(
                        words(F.col(text_col)), lambda w: w != F.lit("")
                    )
                )
            ).alias("tok"),
            F.col(source_col).alias("src"),
        )
        .filter(F.col("src").isNotNull())
        .distinct()
    )
    per_tok = tok_src.groupBy("tok").agg(
        F.array_sort(F.collect_set("src")).alias("srcs")
    )
    # one explode emits pairs (sa, sb) for i<j AND singletons (s, NULL):
    # the downstream count agg then carries BOTH |A∩B| and |A| rows
    contrib = per_tok.select(
        F.explode(
            F.expr(
                "concat("
                " flatten(transform(srcs, (a, i) ->"
                "  transform(slice(srcs, i + 2, size(srcs)),"
                "  b -> struct(a as sa, b as sb)))),"
                " transform(srcs, s ->"
                "  struct(s as sa, cast(null as string) as sb)))"
            )
        ).alias("p")
    )
    counts = contrib.groupBy(
        F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # attach vocab sizes by WINDOWS over the bounded counts frame, not
    # joins: a branch-per-lookup would re-execute the whole corpus
    # lineage per branch (filter pushdown below the agg defeats
    # ReusedExchange). Partitioning by sa groups each pair row (a, b)
    # with a's singleton; partitioning by coalesce(sb, sa) groups it
    # with b's singleton — so both lookups are O(sources²) window work
    # on ONE corpus scan.
    w_a = Window.partitionBy("sa")
    w_b = Window.partitionBy(F.coalesce(F.col("sb"), F.col("sa")))
    single_n = F.max(F.when(F.col("sb").isNull(), F.col("n")))
    enriched = counts.withColumn("vocab_a", single_n.over(w_a)).withColumn(
        "vocab_b", single_n.over(w_b)
    )
    return enriched.filter(F.col("sb").isNotNull()).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("vocab_a"),
        F.col("vocab_b"),
        F.col("n").alias("n_shared"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * 1000000)"
            " div (vocab_a + vocab_b - n) AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def vocab_accumulation(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10,
) -> DataFrame:
    """Vocabulary growth curve (the empirical Heaps'-law sweep): split
    the corpus into ``n_buckets`` doc-id ranges and report, per bucket,
    how many DISTINCT tokens appear there for the first time and the
    cumulative vocabulary — the curve that says whether more data still
    buys new vocabulary or the corpus has saturated.

    Scale shape: the user_accumulation first-seen decomposition applied
    to tokens — per-token MIN(bucket) (one token-keyed hash agg with
    map-side MIN partials), a bounded per-bucket count, and the
    cumulative window over ≤ n_buckets rows. Never an expanding-window
    COUNT(DISTINCT), never a token self-join. Bucket ids are integer
    rank-free ntiles over the id domain ((id − min) · n div (span + 1),
    bounds from one two-scalar agg — the only collect).

    Returns (bucket, n_new_tokens, cum_vocab) for non-empty buckets.
    """
    toks = df.select(
        F.col(id_col).cast("bigint").alias("__id"),
        F.explode(
            F.array_distinct(
                F.filter(words(F.col(text_col)), lambda w: w != F.lit(""))
            )
        ).alias("tok"),
    )
    lo, hi = toks.agg(F.min("__id"), F.max("__id")).first()
    if lo is None:
        return df.sparkSession.createDataFrame(
            [], "bucket int, n_new_tokens bigint, cum_vocab bigint"
        )
    span = int(hi) - int(lo) + 1
    bucket = F.expr(
        f"CAST(((__id - {int(lo)}) * {n_buckets}) div {span} AS INT)"
    )
    first_seen = (
        toks.withColumn("__b", bucket)
        .groupBy("tok")
        .agg(F.min("__b").alias("bucket"))
    )
    per_bucket = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_tokens")
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bucket.select(
        "bucket",
        "n_new_tokens",
        F.sum("n_new_tokens").over(w).cast("bigint").alias("cum_vocab"),
    )


def lang_confusion(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Confusion matrix between the DECLARED language label and the
    stopword-voting detector (add_lang_id) — the label-quality audit a
    curation pipeline runs before trusting either side: a (declared=en,
    detected=de) cell of any size is mislabeled data or a detector gap,
    and both poison language-filtered training mixes.

    Scale shape: detection is map-side (higher-order filters, no UDF);
    ONE (declared, detected) hash agg — output bounded by langs²; the
    per-declared share is a window over that bounded aggregate.

    Returns (declared_lang, detected_lang, n_docs, share_ppm) where
    share_ppm is the cell's share of its DECLARED row (each declared
    row sums to ~1e6).
    """
    pred = add_lang_id(df.select(F.col(lang_col), F.col(text_col)), text_col)
    cells = pred.groupBy(
        F.col(lang_col).alias("declared_lang"),
        F.col("pred_lang").alias("detected_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = Window.partitionBy("declared_lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return cells.withColumn(
        "__total", F.sum("n_docs").over(w)
    ).select(
        "declared_lang",
        "detected_lang",
        "n_docs",
        F.expr(
            "CAST((CAST(n_docs AS DECIMAL(38,0)) * 1000000)"
            " div __total AS BIGINT)"
        ).alias("share_ppm"),
    )


def dup_cluster_histogram(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-cluster size histogram over canonical token-set
    fingerprints — the one-page corpus-health number behind the dedup
    family: how many content clusters have exactly k members, and how
    many documents that traps (n_docs at size ≥ 2 is what exact dedup
    would remove, minus one keeper per cluster).

    Scale shape: fingerprint is map-side md5; cluster sizes are ONE
    fingerprint-keyed count; the histogram is a second count over the
    cluster-sized frame keyed by size — output bounded by the largest
    cluster, never by rows.

    Returns (cluster_size, n_clusters, n_docs) sorted by size via the
    gate's canonical ordering (no ORDER BY needed — bounded output).
    """
    sizes = (
        add_fingerprint(df, text_col=text_col)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


def label_noise_audit(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Conflicting-label audit: content clusters (canonical token-set
    fingerprints, the dedup family's key) that carry MORE THAN ONE
    distinct label — the labeled-data twin of split_leakage_audit
    (there: one content in two folds; here: one content with two
    truths). Identical text labeled both 'en' and 'de' poisons a
    classifier and silently double-counts in per-label corpus stats;
    this is the audit a pipeline runs before trusting its labels.

    Scale shape: fingerprint + label are map-side; ONE (fingerprint,
    label) count then ONE fingerprint-keyed aggregation whose state is
    O(labels) per cluster (distinct-label count, majority via
    MIN(struct(-n, label)) — the exact tie-stable argmax idiom, modal
    label = most docs, ties to the smallest label). No windows, no
    joins, no self-pairing.

    Returns (fingerprint, n_docs, n_labels, labels, majority_label,
    majority_n) for conflicted fingerprints only; ``labels`` is the
    sorted comma-joined distinct label set (bounded by the label
    vocabulary).
    """
    per_label = (
        add_fingerprint(df, text_col=text_col)
        .select(
            "fingerprint",
            F.coalesce(F.col(label_col), F.lit("")).alias("__lbl"),
        )
        .groupBy("fingerprint", "__lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    return (
        per_label.groupBy("fingerprint")
        .agg(
            F.sum("__n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_labels"),
            F.array_join(F.array_sort(F.collect_set("__lbl")), ",").alias(
                "labels"
            ),
            F.min(F.struct((-F.col("__n")).alias("nn"), F.col("__lbl")))
            .alias("__best"),
        )
        .filter(F.col("n_labels") >= 2)
        .select(
            "fingerprint",
            "n_docs",
            "n_labels",
            "labels",
            F.col("__best.__lbl").alias("majority_label"),
            (-F.col("__best.nn")).cast("bigint").alias("majority_n"),
        )
    )


def dup_rate_by_source(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source duplication scorecard: how much of each source's
    volume is exact-content duplicate (canonical fingerprint), both
    within the source and against the global corpus — the number that
    decides which feed gets deduped first and which is near-clean.
    ``cross_source_ppm`` isolates BOILERPLATE shared across feeds
    (a cluster spanning sources) from within-feed re-crawls.

    Scale shape: ONE (fingerprint) aggregation for global cluster
    stats (distinct-source count via a bounded collect_set), ONE
    (source, fingerprint) count joined back by fingerprint — the join
    is fingerprint-keyed and PINNED shuffle-hash: both sides are
    data-sized (one row per distinct fingerprint), and Catalyst's
    post-aggregation estimate would broadcast the global side at test
    scale — the same estimate that becomes an abortive data-sized
    broadcast at 100 TB (the jaccard ``_size_sides`` hazard). The
    final source-keyed rollup's output is bounded by the source
    vocabulary.

    Returns (source, n_docs, n_distinct, dup_rate_ppm,
    cross_source_ppm): dup_rate_ppm = share of docs beyond one keeper
    per within-source cluster; cross_source_ppm = share of docs whose
    cluster spans ≥ 2 sources.
    """
    fp = add_fingerprint(df, text_col=text_col).select(
        F.coalesce(F.col(group_col), F.lit("")).alias("__src"),
        "fingerprint",
    )
    # ONE pass over the corpus (r11): per_sf has exactly one row per
    # (source, fingerprint), so the distinct-source count per
    # fingerprint is per_sf's row count per fingerprint — the old
    # second corpus aggregation (with its collect_set buffer) derives
    # from the first. per_sf feeds that rollup AND the join — shared.
    per_sf = shared(
        fp.groupBy("__src", "fingerprint").agg(
            F.count(F.lit(1)).cast("bigint").alias("__n")
        )
    )
    global_fp = per_sf.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("int").alias("__nsrc")
    )
    joined = per_sf.join(global_fp.hint("shuffle_hash"), "fingerprint")
    return (
        joined.groupBy("__src")
        .agg(
            F.sum("__n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.when(F.col("__nsrc") >= 2, F.col("__n")).otherwise(0))
            .cast("bigint")
            .alias("__cross"),
        )
        .select(
            F.col("__src").alias("source"),
            "n_docs",
            "n_distinct",
            F.expr(
                "CAST((n_docs - n_distinct) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("dup_rate_ppm"),
            F.expr(
                "CAST(__cross * 1000000 DIV n_docs AS BIGINT)"
            ).alias("cross_source_ppm"),
        )
    )


def token_frequency_spectrum(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Token frequency spectrum (the Zipf diagnostic): bucket the
    vocabulary by ⌊log2(corpus frequency)⌋ and report, per bucket, the
    vocabulary size, total occurrences, and the cumulative occurrence
    share from the COMMON end — the curve that says "the top two
    buckets are stopwords carrying 60% of tokens, everything below
    freq 4 is hapax noise". Drives stopword cutoffs and min-count
    vocabulary thresholds the same way vocab_accumulation drives
    Heaps'-law capacity planning.

    Scale shape: ONE token-keyed count (the only data-sized shuffle),
    then a bucket aggregation bounded by ~64 rows, then a running sum
    over that BOUNDED frame (the window's input is the bucket
    aggregate — the audited bounded-frame idiom). log2 on a BIGINT
    count is exact: floor(log2) buckets are integer-stable (no FP
    boundary ambiguity for counts < 2^53).

    Returns (freq_bucket, n_tokens, n_occurrences, cum_share_ppm)
    where bucket b covers frequencies [2^b, 2^{b+1}).
    """
    tok = df.select(F.explode(words(F.col(text_col))).alias("w")).filter(
        F.col("w") != ""
    )
    freqs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    buckets = (
        freqs.select(
            F.floor(F.log2("f")).cast("int").alias("freq_bucket"),
            F.col("f"),
        )
        .groupBy("freq_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("f").cast("bigint").alias("n_occurrences"),
        )
    )
    w_cum = Window.orderBy(F.col("freq_bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        buckets.select(
            "freq_bucket",
            "n_tokens",
            "n_occurrences",
            F.sum("n_occurrences").over(w_cum).alias("__cum"),
            F.sum("n_occurrences").over(w_tot).alias("__tot"),
        )
        # exact integer ppm: bigint DIV, no float on the compare path
        .select(
            "freq_bucket",
            "n_tokens",
            "n_occurrences",
            F.expr(
                "CAST(__cum * 1000000 DIV __tot AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


def char_class_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Character-class composition per source: the share of alphabetic
    / digit / whitespace / other characters in each feed's text — the
    cheapest data-quality screen there is (a feed whose digit share
    doubles overnight switched formats; one whose 'other' share spikes
    is shipping markup or mojibake). Complements the word-level
    quality scores with a tokenizer-independent signal.

    Scale shape: all class counts are map-side length arithmetic
    (length minus length-after-removal — no explode, no per-char
    rows); ONE source-keyed aggregation, output bounded by the source
    vocabulary. Shares are exact integer ppm on BIGINT sums.

    Returns (source, n_chars, alpha_ppm, digit_ppm, space_ppm,
    other_ppm).
    """
    t = F.col(text_col)
    n_all = F.length(t).cast("bigint")
    n_alpha = (
        F.length(t) - F.length(F.regexp_replace(t, "[A-Za-z]", ""))
    ).cast("bigint")
    n_digit = (
        F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))
    ).cast("bigint")
    n_space = (
        F.length(t) - F.length(F.regexp_replace(t, " ", ""))
    ).cast("bigint")
    per = df.select(
        F.coalesce(F.col(group_col), F.lit("")).alias("source"),
        n_all.alias("__n"),
        n_alpha.alias("__a"),
        n_digit.alias("__d"),
        n_space.alias("__s"),
    )
    agg = per.groupBy("source").agg(
        F.sum("__n").cast("bigint").alias("n_chars"),
        F.sum("__a").cast("bigint").alias("__ta"),
        F.sum("__d").cast("bigint").alias("__td"),
        F.sum("__s").cast("bigint").alias("__ts"),
    )
    ppm = lambda c: F.expr(
        f"CAST({c} * 1000000 DIV n_chars AS BIGINT)"
    )
    return agg.filter(F.col("n_chars") > 0).select(
        "source",
        "n_chars",
        ppm("__ta").alias("alpha_ppm"),
        ppm("__td").alias("digit_ppm"),
        ppm("__ts").alias("space_ppm"),
        (
            F.lit(1_000_000)
            - ppm("__ta") - ppm("__td") - ppm("__ts")
        ).cast("bigint").alias("other_ppm"),
    )


def label_distinctive_terms(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Most DISTINCTIVE terms per label by exact lift: how much more
    frequent is the token inside the label's slice than in the whole
    corpus — the per-class vocabulary profile behind "what does this
    source/language actually talk about" (tf-idf scores documents;
    this scores LABELS, the corpus-curation view). Lift is exact
    integer ppm: (token share in label) / (token share global) =
    (n_lt · N_total · 1e6) div (n_t · N_label), products on
    DECIMAL(38,0) per the repo's overflow audit (n_lt·N_total passes
    int64 at ~3e9 rows·tokens — exactly the 100 TB regime).

    Scale shape: one (label, token) count and one token count (the two
    data-sized shuffles; the token-totals join is PINNED shuffle-hash —
    both sides are vocabulary-sized and Catalyst's post-agg estimate
    would broadcast one at test scale, the ``_size_sides`` hazard);
    label totals are a BOUNDED (labels) broadcast; top-k is a rank
    window partitioned by label over the vocabulary-sized frame.
    ``min_count`` keeps hapax noise out of the lift numerator.

    Returns (label, term, n_in_label, lift_ppm, rank), rank 1..k by
    (lift desc, term asc).
    """
    tok = df.select(
        F.coalesce(F.col(label_col), F.lit("")).alias("label"),
        F.explode(words(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    # ONE pass over the token stream (r11): the (label, term) count is
    # the finest marginal — the term totals, label totals and corpus
    # total all derive FROM it by summing n_lt, so the old shape's
    # three extra corpus-stream aggregations (4 source scans in the
    # sweep) collapse into sums over the (labels × vocabulary)-sized
    # table. lt feeds all three marginals plus the scoring join —
    # compute-once shared (operators/sharing.py).
    lt = shared(
        tok.groupBy("label", "term").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lt")
        )
    )
    t = lt.groupBy("term").agg(
        F.sum("n_lt").cast("bigint").alias("n_t")
    )
    lab = lt.groupBy("label").agg(
        F.sum("n_lt").cast("bigint").alias("n_label")
    )
    tot = lt.agg(F.sum("n_lt").cast("bigint").alias("n_total"))
    scored = (
        lt.filter(F.col("n_lt") >= min_count)
        .join(t.hint("shuffle_hash"), "term")
        .join(F.broadcast(lab), "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            "term",
            F.col("n_lt").alias("n_in_label"),
            F.expr(
                "CAST((CAST(n_lt AS DECIMAL(38,0)) * n_total * 1000000)"
                " DIV (CAST(n_t AS DECIMAL(38,0)) * n_label) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("lift_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
