"""The workload generators are deterministic in their seed and plant the
cases the output checks rely on."""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_project  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_project_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen_project.generate(a, 5, n_gsm=16, n_genes=40)
    gen_project.generate(b, 5, n_gsm=16, n_genes=40)
    gen_project.generate(c, 6, n_gsm=16, n_genes=40)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_project_plants_the_reference_edge_cases(tmp_path):
    root = str(tmp_path / "p")
    exp = gen_project.generate(root, 3, n_gsm=16, n_genes=40)
    statuses = [s for s, _ in exp["starqc"].values()]
    for status in ("NO_LOG", "INVALID_LOG", "FAIL", "PASS"):
        assert status in statuses
    assert ["FAIL", "50.00"] in exp["starqc"].values()
    ratios = {r[3] for r in exp["sex"]}
    assert "Inf" in ratios and "40.000000" in ratios
    assert "Conflict" in {r[4] for r in exp["sex"]}
    assert len(exp["matrix_samples"]) == len(exp["pass"]) - 1
    with open(os.path.join(root, "AccList.txt")) as f:
        rows = [line.split("\t") for line in f.read().splitlines()[1:]]
    assert any(r[1] == "" for r in rows)
    gsms = [r[1] for r in rows if r[1]]
    assert max(gsms.count(g) for g in gsms) == 3
    [log] = [p for p in (os.path.join(root, "logs", g, "Log.final.out")
                         for g in sorted(set(gsms))) if os.path.exists(p)][:1]
    with open(log) as f:
        text = f.read()
    assert "," in text and "|\t" in text


def test_corpus_is_identical_per_seed_and_keeps_the_replica_shape(tmp_path):
    import pyarrow.parquet as pq
    a = gen_corpus.generate(str(tmp_path / "a"), 9, n_base=60, rep=3)
    b = gen_corpus.generate(str(tmp_path / "b"), 9, n_base=60, rep=3)
    c = gen_corpus.generate(str(tmp_path / "c"), 10, n_base=60, rep=3)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    docs = pq.read_table(a["docs"]).to_pylist()
    assert len(docs) == 180 and a["n_eval"] == 1
    base, rep1 = docs[:60], docs[60:120]
    for x, y in zip(base, rep1):
        tx, ty = x["text"].split(), y["text"].split()
        assert [len(t) for t in tx] == [len(t) for t in ty]
        assert [t for t in tx if t in gen_corpus.STOP_ALL] == \
               [t for t in ty if t in gen_corpus.STOP_ALL]
        assert (x["lang"], x["source"]) == (y["lang"], y["source"])
        assert checks._lang_id(tx) == checks._lang_id(ty)


def test_near_dup_pairs_matches_brute_force():
    docs = {i: ("en", checks._shingles(t.split(), 2)) for i, t in enumerate([
        "a b c d e f g h i j", "a b c d e f g h i k", "a b c d e f g h i j",
        "x y z w v u t s r q", "a b c d e f g h x y"])}
    docs[5] = ("de", docs[0][1])

    def brute(t):
        return sorted((a, b) for a in docs for b in docs if a < b
                      and docs[a][0] == docs[b][0]
                      and len(docs[a][1] & docs[b][1]) >= t * len(docs[a][1] | docs[b][1]))
    # docs 0 and 1 share 8 of 10 bigrams: exactly at 0.8, which counts
    assert checks.near_dup_pairs(docs, 0.8) == brute(0.8) == [(0, 1), (0, 2), (1, 2)]
    assert checks.near_dup_pairs(docs, 0.9) == brute(0.9) == [(0, 2)]
    assert checks.near_dup_pairs(docs, 0.3) == brute(0.3)
