"""Output checks, run outside the timed region.

Each check returns a list of mismatches; an empty list means the item's
outputs are correct.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import math
import os
from collections import Counter, defaultdict

import gen_corpus
import gen_project
from spans import PIPELINE_STAGES


def _tsv(path: str) -> list[list[str]]:
    """Rows (header first) of a single-file Spark TSV sink directory."""
    parts = glob.glob(os.path.join(path, "part-*"))
    if len(parts) != 1:
        raise ValueError(f"{path}: {len(parts)} part files")
    with open(parts[0], newline="") as f:
        return list(csv.reader(f, delimiter="\t", quotechar='"', escapechar="\\"))


def _cells(rows: list[list[str]]) -> list[tuple[str, str, str]]:
    header = rows[0]
    return [(r[0], header[i], f"{float(v):.2f}")
            for r in rows[1:] for i, v in enumerate(r) if i]


def stages_missing(out: str) -> list[str]:
    """Pipeline stages without a completion marker under ``out``."""
    return [st for st in PIPELINE_STAGES
            if not os.path.exists(f"{out}/.markers/{gen_project.PROJECT}.{st}_complete")]


def pipeline(out: str, exp: dict) -> list[str]:
    """Compare a ``run_pipeline`` output tree with the generator's record."""
    bad = [f"stage {st} did not complete" for st in stages_missing(out)]
    try:
        qc = {r[0]: [r[4], None if r[3] == "NA" else r[3]]
              for r in _tsv(f"{out}/STAR_Align_sum")[1:]}
        if qc != exp["starqc"]:
            bad.append("STARQC summary differs")
        passed = sorted([r[0], r[1]] for r in _tsv(f"{out}/Unique_AccList_PASS")[1:])
        if passed != sorted(exp["pass"]):
            bad.append("PASS AccList differs")
        for name, key in (("GeneMat_TPM", "tpm_digest"), ("GeneMat_counts", "counts_digest")):
            rows = _tsv(f"{out}/{name}")
            if rows[0][1:] != exp["matrix_samples"]:
                bad.append(f"{name} columns differ")
            if gen_project.digest(_cells(rows)) != exp[key]:
                bad.append(f"{name} values differ")
        if sorted(_tsv(f"{out}/sex_result")[1:]) != exp["sex"]:
            bad.append("sex_result differs")
        conflict = sorted(r[:5] + [f"{float(v):.2f}" for v in r[5:]]
                          for r in _tsv(f"{out}/ConflictedSampleReport")[1:])
        if conflict != exp["conflict"]:
            bad.append("conflict report differs")
        docs = glob.glob(f"{out}/tracks/*/RNAseq_*.json")
        if len(docs) != len(exp["pass"]) or not os.path.exists(f"{out}/session.json"):
            bad.append("track documents missing")
    except (OSError, ValueError, IndexError, KeyError) as e:
        bad.append(f"unreadable output: {e!r}")
    return bad


def _lang_id(toks: list[str]) -> str:
    """The engine's stopword vote; ties go to the first language in sorted
    order (functions.text.lang_id)."""
    hits = {lang: sum(t in ws for t in toks)
            for lang, ws in sorted(gen_corpus.STOPWORDS.items())}
    best = max(hits.values())
    return next(lang for lang, h in hits.items() if h == best)


def _shingles(toks: list[str], n: int) -> set[str]:
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_dup_pairs(docs: dict[int, tuple[str, set[str]]],
                   threshold: float) -> list[tuple[int, int]]:
    """Same-block pairs with Jaccard >= threshold, by prefix filtering:
    with shingles in one global order, two sets that reach the threshold
    share a shingle among their first |s| - ceil(t·|s|) + 1."""
    freq = Counter(s for _, sh in docs.values() for s in sh)
    index: dict[tuple[str, str], list[int]] = defaultdict(list)
    cands = set()
    for i, (block, sh) in sorted(docs.items()):
        order = sorted(sh, key=lambda s: (freq[s], s))
        for s in order[:len(order) - math.ceil(threshold * len(order)) + 1]:
            for j in index[(block, s)]:
                cands.add((j, i))
            index[(block, s)].append(i)
    return sorted((a, b) for a, b in cands
                  if len(docs[a][1] & docs[b][1])
                  >= threshold * len(docs[a][1] | docs[b][1]) - 1e-9)


def corpus_digest(out: str) -> str:
    """Digest of the curated doc ids and of every TSV report."""
    import pyarrow.parquet as pq
    ids = sorted(pq.read_table(f"{out}/curated", columns=["doc_id"])
                 .column("doc_id").to_pylist())
    h = hashlib.sha256(" ".join(map(str, ids)).encode())
    for name in ("stats", "neardup_keepers", "neardup_pagerank", "neardup_leakage"):
        for line in sorted(map(tuple, _tsv(f"{out}/{name}"))):
            h.update(("\t".join(line) + "\n").encode())
    return h.hexdigest()


def corpus(out: str, info: dict, min_tokens: int = 20, threshold: float = 0.8,
           contam_n: int = 4) -> list[str]:
    """Invariants of a ``run_corpus`` output: curated ⊆ input; every
    curated doc passes the token and language gates; texts are distinct;
    no two curated docs are near-duplicates (so no component keeps two);
    no curated doc shares a ``contam_n``-gram with the eval slice."""
    import pyarrow.parquet as pq
    bad = []
    src = {r["doc_id"]: r for r in pq.read_table(info["docs"]).to_pylist()}
    cur = pq.read_table(f"{out}/curated").to_pylist()
    if not cur:
        return ["curated set is empty"]
    evals = set()
    for r in pq.read_table(info["eval"]).to_pylist():
        evals |= _shingles(r["text"].split(), contam_n)
    texts, docs = set(), {}
    for r in cur:
        s = src.get(r["doc_id"])
        if s is None or (s["text"], s["source"], s["lang"]) != (
                r["text"], r["source"], str(r["lang"])):
            bad.append(f"doc {r['doc_id']} not in the input")
            continue
        toks = r["text"].split()
        if len(toks) < min_tokens or _lang_id(toks) != s["lang"]:
            bad.append(f"doc {r['doc_id']} fails the quality or language gate")
        if r["text"] in texts:
            bad.append(f"doc {r['doc_id']} is an exact duplicate")
        texts.add(r["text"])
        if _shingles(toks, contam_n) & evals:
            bad.append(f"doc {r['doc_id']} shares a {contam_n}-gram with the eval set")
        docs[r["doc_id"]] = (s["lang"], _shingles(toks, 2))
    for a, b in near_dup_pairs(docs, threshold):
        bad.append(f"docs {a} and {b} are near-duplicates")
    return bad[:20]
