"""Seeded documents corpus for the ``corpus_curation`` workload.

A base corpus shaped like the engine's ``documents`` table (doc_id, text,
lang, source, n_chars: short content tokens mixed with the language's
stopwords) is replicated ``rep`` times with the shape rule of a scale
replica: replica 0 is the base verbatim; in replica r > 0 every
non-stopword token is replaced by a same-length token cut from
md5(token, seed, r). Language-ID votes, stopword ratios and token-length
statistics are preserved, while shingle sets are disjoint across
replicas, so the planted duplicate structure grows linearly with ``rep``.

Planted in the base: exact duplicates, near-duplicate edits and chains,
documents below the token gate, and mislabeled languages (including a
label the language-ID never predicts). The eval slice (about 1 % of the
docs) copies long spans of corpus documents, so decontamination has work.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Must equal ``functions.text.STOPWORDS`` of the engine: a replica keeps
# these tokens verbatim. Copied so that generating inputs never imports
# the program under test.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu"),
    "fr": ("le", "la", "de", "et", "est", "un", "une", "que"),
}
STOP_ALL = frozenset(w for ws in STOPWORDS.values() for w in ws)
# content words of three or more letters: a salted token is md5 hex, which
# then can never spell a stopword
CONTENT = ("spark", "column", "order", "small", "sort", "fast", "value",
           "scan", "hash", "slow", "group", "batch", "agg", "filter", "query",
           "big", "key", "window", "row", "part", "table", "stream", "merge",
           "data", "line", "vector", "join", "customer", "index", "shard",
           "token", "model", "graph", "node", "edge", "page", "rank", "cache",
           "disk", "file", "block", "task", "stage", "plan", "cost", "rate")
LANG_WEIGHTS = (("en", 45), ("es", 14), ("de", 14), ("fr", 14), ("zh", 13))
SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                    ("lang", pa.string()), ("source", pa.string()),
                    ("n_chars", pa.int64())])


def _doc(rng: random.Random, lang: str, short: bool) -> list[str]:
    stops = STOPWORDS.get(lang, STOPWORDS["en"])
    n = rng.randint(4, 19) if short else rng.randint(20, 90)
    return [rng.choice(stops) if rng.random() < 0.25 else rng.choice(CONTENT)
            for _ in range(n)]


def _shuffled(rng: random.Random, items: list) -> list:
    rng.shuffle(items)
    return items


def base_corpus(seed: int, n: int) -> list[tuple[str, str, str]]:
    """``n`` (text, lang, source) rows with planted duplicate structure.

    Every kind of row comes in a fixed share (6 % exact duplicates, 10 %
    near-duplicates, 3 % mislabeled, a third of the fresh docs below the
    token gate, languages by ``LANG_WEIGHTS``) and only their order and
    content depend on the seed, so every seed gives the curation the same
    amount of work."""
    rng = random.Random(seed)
    n_exact, n_near = round(0.06 * n), round(0.10 * n)
    n_fresh = n - n_exact - n_near
    cases = ["fresh"] + _shuffled(rng, ["exact"] * n_exact + ["near"] * n_near
                                  + ["fresh"] * (n_fresh - 1))
    weight = sum(w for _, w in LANG_WEIGHTS)
    langs = [lang for lang, w in LANG_WEIGHTS for _ in range(round(w * n_fresh / weight))]
    langs = _shuffled(rng, (langs + ["en"] * n_fresh)[:n_fresh])
    short = _shuffled(rng, [k < n_fresh // 3 for k in range(n_fresh)])
    mislabeled = _shuffled(rng, [k < round(0.03 * n) for k in range(n_fresh)])
    rows: list[tuple[list[str], str, str]] = []
    k = 0                                           # fresh docs so far
    for case in cases:
        src = f"src{rng.randrange(20)}"
        if case == "exact":
            toks, lang, _ = rows[rng.randrange(len(rows))]
        elif case == "near":
            # one token edited in a recent long doc: Jaccard of the bigram
            # sets stays above 0.9; chains form when the source is an edit
            recent = [r for r in rows[-50:] if len(r[0]) >= 40] or rows[-1:]
            toks, lang, _ = recent[rng.randrange(len(recent))]
            toks = list(toks)
            if len(toks) >= 40:
                toks[rng.randrange(len(toks))] = rng.choice(CONTENT)
        else:
            lang = langs[k]
            toks = _doc(rng, lang, short[k])
            if mislabeled[k]:
                lang = rng.choice(tuple(lab for lab in STOPWORDS if lab != lang))
            k += 1
        rows.append((toks, lang, src))
    return [(" ".join(t), lang, src) for t, lang, src in rows]


def _salt(word: str, seed: int, r: int) -> str:
    if r == 0 or word in STOP_ALL:
        return word
    return hashlib.md5(f"{word}:{seed}:{r}".encode()).hexdigest()[:len(word)]


def _table(rows: list[tuple[int, str, str, str]]) -> pa.Table:
    ids, texts, langs, srcs = zip(*rows)
    return pa.table({"doc_id": list(ids), "text": list(texts),
                     "lang": list(langs), "source": list(srcs),
                     "n_chars": [len(t) for t in texts]}, schema=SCHEMA)


def generate(root: str, seed: int, n_base: int = 2000, rep: int = 10) -> dict:
    """Write ``docs.parquet`` (n_base × rep docs) and ``eval.parquet``
    under ``root``; returns their sizes."""
    os.makedirs(root, exist_ok=True)
    base = base_corpus(seed, n_base)
    docs = []
    for r in range(rep):
        for i, (text, lang, src) in enumerate(base):
            salted = " ".join(_salt(w, seed, r) for w in text.split(" "))
            docs.append((r * n_base + i, salted, lang, src))
    rng = random.Random(seed ^ 0x5EED)
    evals = []
    for k, j in enumerate(sorted(rng.sample(range(len(docs)), max(1, len(docs) // 100)))):
        toks = docs[j][1].split(" ")
        start = rng.randrange(max(1, len(toks) - 6))
        span = toks[start:start + rng.randint(6, 12)]
        filler = [rng.choice(CONTENT) + "x" for _ in range(rng.randint(5, 15))]
        evals.append((10 ** 9 + k, " ".join(filler + span), docs[j][2], "eval"))
    docs_path = os.path.join(root, "docs.parquet")
    eval_path = os.path.join(root, "eval.parquet")
    pq.write_table(_table(docs), docs_path)
    pq.write_table(_table(evals), eval_path)
    return {"docs": docs_path, "eval": eval_path, "n_docs": len(docs),
            "n_eval": len(evals), "n_chars": sum(len(d[1]) for d in docs),
            "input_bytes": os.path.getsize(docs_path) + os.path.getsize(eval_path)}


def argv(info: dict, out: str) -> list[str]:
    """``run_corpus`` arguments for a generated corpus."""
    return ["--docs", info["docs"], "--out", out, "--neardup-report",
            "--benchmark", info["eval"]]
