"""Fuzz the generated DuckDB BPE oracle (_sql_bpe_train / _sql_bpe_encode)
against a sequential pure-Python greedy BPE reference.

The round-4 ADVICE showed 42/193 random corpora diverged because the
`kept` window partitioned by (w, grp) without is_match. This script
re-runs that fuzz after the fix, plus the empty-winner (fully-merged
corpus) edge case. No Spark needed: the Spark operator is property-tested
separately; the Python reference is the shared ground truth.
"""
import random
import sys

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")
from pdcm_etl_spark.catalog.text import _sql_bpe_encode, _sql_bpe_train


def py_bpe_train(texts, n_merges=4):
    """Sequential reference: Sennrich-style greedy BPE over word vocab."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for r in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in vocab.items():
            f = words[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        # max count, ties to lexicographically smallest (a, b)
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = a + b
        merges.append((r, a, b, merged, n))
        for w, syms in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab, words


def py_bpe_encode(texts, n_merges=4):
    vals = list(texts.values()) if isinstance(texts, dict) else list(texts)
    _, vocab, _ = py_bpe_train(vals, n_merges)
    rows = {}
    for doc_id, t in texts.items() if isinstance(texts, dict) else enumerate(texts):
        ws = [w for w in t.lower().split(" ") if w]
        if not ws:
            continue
        n_words = len(ws)
        n_chars = sum(len(w) for w in ws)
        n_tokens = sum(len(vocab[w]) for w in ws)
        rows[doc_id] = (n_words, n_chars, n_tokens, n_tokens * 10000 // n_chars)
    return rows


def run_one(texts, n_merges=4):
    df = pd.DataFrame(
        {"doc_id": list(range(len(texts))), "text": texts}
    )
    con = duckdb.connect()
    con.register("documents", df)
    got = con.execute(_sql_bpe_train(n_merges)).fetchall()
    got = sorted([(r, a, b, m, int(n)) for r, a, b, m, n in got])
    want = sorted(py_bpe_train(texts, n_merges)[0])
    ok_train = got == want

    enc = con.execute(_sql_bpe_encode(n_merges)).fetchall()
    enc = {int(i): (int(w), int(c), int(t), int(bp)) for i, w, c, t, bp in enc}
    want_enc = py_bpe_encode(dict(enumerate(texts)), n_merges)
    ok_enc = enc == want_enc
    con.close()
    return ok_train, ok_enc, got, want


def main():
    rng = random.Random(7)
    alphabet = "ab"
    fails = 0
    n_runs = 160
    for trial in range(n_runs):
        n_docs = rng.randint(1, 6)
        texts = []
        for _ in range(n_docs):
            n_words = rng.randint(1, 8)
            ws = [
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
                for _ in range(n_words)
            ]
            texts.append(" ".join(ws))
        n_merges = rng.randint(1, 4)
        ok_t, ok_e, got, want = run_one(texts, n_merges)
        if trial % 20 == 0:
            print(f"trial {trial}", flush=True)
        if not (ok_t and ok_e):
            fails += 1
            if fails <= 5:
                print(f"FAIL trial={trial} merges={n_merges} texts={texts}")
                print(f"  got:  {got}")
                print(f"  want: {want}  (train_ok={ok_t} enc_ok={ok_e})")
    # targeted edge: fully-merged tiny corpus (empty winner mid-loop)
    edge_fails = 0
    for texts, nm in [(["a"], 3), (["ab"], 4), (["ab ab"], 4), (["abab"], 4)]:
        ok_t, ok_e, got, want = run_one(texts, nm)
        if not (ok_t and ok_e):
            edge_fails += 1
            print(f"EDGE FAIL texts={texts} merges={nm} got={got} want={want}")
    print(f"fuzz: {n_runs - fails}/{n_runs} ok; edges: {4 - edge_fails}/4 ok")
    sys.exit(0 if fails == 0 and edge_fails == 0 else 1)


if __name__ == "__main__":
    main()
