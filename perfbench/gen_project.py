"""Seeded generator of reference-shaped RNA-seq projects.

Writes one project in the input formats of FIXTURES.md D1-D5 (AccList
TSV, STAR ``Log.final.out`` per sample, RSEM ``.genes.results`` per
sample, samtools idxstats per sample) together with the outputs the
pipeline must produce from it: STARQC statuses and rates, the PASS set,
a digest of each expression matrix, and the sex and conflict rows.

Planted cases:
- multi-run GSMs (2-3 runs) and one AccList row with an empty GSM;
- ``NO_LOG`` (no log file), ``INVALID_LOG`` (input reads 0), an unmapped
  rate of exactly 50.00 % (FAIL: PASS needs < 50) and ordinary FAILs;
- comma-grouped log values padded with tabs and spaces;
- chrY coverage 0 (ratio ``Inf``, computed F), an X/Y ratio of exactly
  40 (computed M: F needs > 40) and input sexes that conflict with the
  computed sex;
- a PASS sample without an RSEM file (absent from the matrices).

The same ``(seed, n_gsm, n_genes)`` gives byte-identical files. Only the
standard library is used, so the files do not depend on library versions.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

SEX_GENES = ("Xist", "Uty", "Sry", "Ddx3y", "Kdm5d", "Eif2s3y")
ACC_HEADER = ("Run", "geo_accession", "Tissue", "Strain", "Sex", "PMID",
              "GEOpath", "Title", "Sample_characteristics", "StrainInfo")
RSEM_HEADER = ("gene_id", "transcript_id(s)", "length", "effective_length",
               "expected_count", "TPM", "FPKM")
CHROMS = [f"chr{i}" for i in range(1, 21)] + ["chrX", "chrY"]
SCAFFOLDS = ["NW_047658712.1", "NW_047658713.1", "NW_047658714.1"]
TISSUES = ("Liver", "Brain", "Heart", "Kidney", "Lung")
# No "/" in strain names: the pipeline's tracks stage names each track
# document after the strain and fails on a "/" (as in "BN/NHsdMcwi"); that
# open defect is recorded in perfbench/README.md.
STRAINS = ("Sprague Dawley", "Wistar, outbred stock", "Long-Evans")
SCALE = 10 ** 6          # bc scale=6, as the sex check computes
PROJECT = "PRJBENCH"
LOG_KEYS = ("Number of input reads",
            "Number of reads unmapped: too many mismatches",
            "Number of reads unmapped: too short",
            "Number of reads unmapped: other")


def bc_str(scaled: int) -> str:
    """A bc ``scale=6`` value printed as bc prints it (``.000249``)."""
    if scaled == 0:
        return "0"
    ip, frac = divmod(scaled, SCALE)
    return f"{ip if ip else ''}.{frac:06d}"


def _grouped(rng: random.Random, n: int) -> str:
    """``n`` with comma grouping, padded with a mix of tabs and spaces."""
    pad = rng.choice(["\t", "\t ", " \t", "\t\t", "  \t"])
    tail = rng.choice(["", " ", "\t", " \t"])
    return f"{pad}{n:,}{tail}"


def _star_log(rng: random.Random, inp: int, mism: int, short: int,
              other: int) -> str:
    uniq = max(inp - mism - short - other, 0)
    rows = [
        ("Started job on", "Jan 01 00:00:00"),
        ("Started mapping on", "Jan 01 00:01:00"),
        ("Finished on", "Jan 01 00:30:00"),
        ("Mapping speed, Million of reads per hour", "123.45"),
        None,
        (LOG_KEYS[0], inp),
        ("Average input read length", 300),
        "UNIQUE READS:",
        ("Uniquely mapped reads number", uniq),
        ("Uniquely mapped reads %", "90.00%"),
        "UNMAPPED READS:",
        (LOG_KEYS[1], mism),
        ("% of reads unmapped: too many mismatches", "0.00%"),
        (LOG_KEYS[2], short),
        ("% of reads unmapped: too short", "0.00%"),
        (LOG_KEYS[3], other),
        ("% of reads unmapped: other", "0.00%"),
        "CHIMERIC READS:",
        ("Number of chimeric reads", 0),
    ]
    out = []
    for r in rows:
        if r is None:
            out.append("")
        elif isinstance(r, str):
            out.append(f"{r:>48}")
        else:
            k, v = r
            val = _grouped(rng, v) if isinstance(v, int) else f"\t{v}"
            out.append(f"{k:>48} |{val}")
    return "\n".join(out) + "\n"


def _qc_plan(rng: random.Random, gsms: list[str]) -> dict[str, dict]:
    """Per-GSM QC case; rates are whole basis points, so the pipeline's
    two-decimal rate is exact."""
    plan = {}
    special = {gsms[1]: "NO_LOG", gsms[2]: "INVALID_LOG",
               gsms[3]: "HALF", gsms[4]: "FAIL", gsms[5]: "FAIL"}
    for g in gsms:
        case = special.get(g, "PASS")
        k = rng.randint(100, 3000)
        inp = 10_000 * k
        if case == "NO_LOG":
            plan[g] = {"status": "NO_LOG"}
            continue
        if case == "INVALID_LOG":
            plan[g] = {"status": "INVALID_LOG", "input": 0, "parts": (0, 0, 0)}
            continue
        bp = {"HALF": 5000, "FAIL": rng.randint(5001, 9000)}.get(
            case, rng.randint(100, 4999))
        total = bp * k
        a = rng.randint(0, total)
        b = rng.randint(0, total - a)
        plan[g] = {"status": "PASS" if bp < 5000 else "FAIL", "input": inp,
                   "parts": (a, b, total - a - b), "rate": f"{bp / 100:.2f}"}
    return plan


def _idxstats(rng: random.Random, case: str) -> tuple[str, int | None]:
    """One idxstats file; returns (text, ratio_scaled or None for Inf)."""
    rows = []
    x_len, y_len = 159_970_021, 3_310_458
    for c in CHROMS:
        length = {"chrX": x_len, "chrY": y_len}.get(c, rng.randint(50, 280) * 10 ** 6)
        rows.append([c, length, rng.randint(10 ** 5, 10 ** 7), rng.randint(0, 999)])
    by = {r[0]: r for r in rows}
    if case == "inf":
        by["chrY"][2] = 0
    elif case == "forty":
        by["chrX"][1], by["chrY"][1] = 10 ** 7, 10 ** 7
        by["chrX"][2], by["chrY"][2] = 400_000, 10_000
    elif case == "F":
        by["chrY"][2] = rng.randint(1, 40)
        by["chrX"][2] = rng.randint(3 * 10 ** 6, 9 * 10 ** 6)
    else:                                   # M
        by["chrY"][2] = rng.randint(20_000, 60_000)
        by["chrX"][2] = rng.randint(2 * 10 ** 6, 6 * 10 ** 6)
    for s in SCAFFOLDS:
        rows.append([s, rng.randint(10 ** 4, 10 ** 5), rng.randint(0, 99), 0])
    rows.append(["*", 0, 0, rng.randint(10 ** 4, 10 ** 5)])
    x = by["chrX"][2] * SCALE // by["chrX"][1]
    y = by["chrY"][2] * SCALE // by["chrY"][1]
    ratio = None if y == 0 else x * SCALE // y
    return "".join(f"{c}\t{n}\t{m}\t{u}\n" for c, n, m, u in rows), ratio


def digest(cells: list[tuple[str, str, str]]) -> str:
    """Order-free sha256 of (feature, sample, value) matrix cells."""
    h = hashlib.sha256()
    for c in sorted(cells):
        h.update(("\t".join(c) + "\n").encode())
    return h.hexdigest()


def generate(root: str, seed: int, n_gsm: int = 24,
             n_genes: int = 2000) -> dict:
    """Write a project under ``root``; returns (and writes as
    ``expected.json``) the outputs the pipeline must produce."""
    if n_gsm < 12 or n_genes < len(SEX_GENES) + 1:
        raise ValueError("need at least 12 GSMs and 7 genes")
    rng = random.Random(seed)
    gsms = sorted(f"GSM{rng.randrange(10 ** 6, 10 ** 7)}" for _ in range(n_gsm))
    if len(set(gsms)) != n_gsm:
        gsms = [f"GSM{1_000_000 + 7 * i + seed % 7}" for i in range(n_gsm)]
    genes = list(SEX_GENES) + [f"Gene{i:05d}" for i in range(n_genes - len(SEX_GENES))]
    rng.shuffle(genes)
    for d in ("logs", "rsem", "idx"):
        os.makedirs(os.path.join(root, d), exist_ok=True)

    # --- D1 AccList: multi-run GSMs and one empty-GSM row -----------------
    input_sex = {g: rng.choice("MF") for g in gsms}
    acc, first_run, run_no = ["\t".join(ACC_HEADER)], {}, 10_000_000 + seed % 1000
    for i, g in enumerate(gsms):
        runs = 3 if i % 7 == 0 else 2 if i % 5 == 0 else 1
        for _ in range(runs):
            run_no += rng.randint(1, 9)
            run = f"SRR{run_no}"
            first_run.setdefault(g, run)
            title = f'Study "{i % 4}" of {rng.choice(TISSUES)}'
            acc.append("\t".join([
                run, g, rng.choice(TISSUES), rng.choice(STRAINS), input_sex[g],
                str(30_000_000 + i), f"https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=GSE{seed}",
                title, "age: 12 weeks;   treatment:  control",
                f"https://rgd.mcw.edu/rgdweb/report/strain/main.html?id={i}"]))
    acc.insert(1 + rng.randrange(len(acc) - 1),
               "\t".join(["SRR9", "", "Liver", "BN", "M", "1", "u", "t", "c", "s"]))
    with open(os.path.join(root, "AccList.txt"), "w") as f:
        f.write("\n".join(acc) + "\n")

    # --- D2 STAR logs -------------------------------------------------------
    qc = _qc_plan(rng, gsms)
    log_lines = 0
    for g in gsms:
        p = qc[g]
        if p["status"] == "NO_LOG":
            continue
        os.makedirs(os.path.join(root, "logs", g), exist_ok=True)
        text = _star_log(rng, p["input"], *p["parts"])
        log_lines += text.count("\n")
        with open(os.path.join(root, "logs", g, "Log.final.out"), "w") as f:
            f.write(text)
    passed = sorted(g for g in gsms if qc[g]["status"] == "PASS")

    # --- D4 RSEM genes.results: every logged sample but one PASS sample ----
    no_rsem = passed[len(passed) // 2]
    matrix_samples = [g for g in passed if g != no_rsem]
    tpm_cells, cnt_cells, sex_tpm = [], [], {}
    expr_rows = 0
    for g in gsms:
        if qc[g]["status"] == "NO_LOG" or g == no_rsem:
            continue
        lines = ["\t".join(RSEM_HEADER)]
        in_matrix = g in matrix_samples
        for j, gene in enumerate(genes):
            length = rng.randint(300, 9000)
            zero = rng.random() < 0.3
            cnt = "0.00" if zero else f"{rng.randint(1, 500_000) / 100:.2f}"
            tpm = "0.00" if zero else f"{rng.randint(1, 200_000) / 100:.2f}"
            lines.append(f"{gene}\tNM_{j:06d}\t{length}.00\t{length - 149}.00\t"
                         f"{cnt}\t{tpm}\t{tpm}")
            if in_matrix:
                tpm_cells.append((gene, g, tpm))
                cnt_cells.append((gene, g, cnt))
                if gene in SEX_GENES:
                    sex_tpm.setdefault(g, {})[gene] = tpm
        expr_rows += len(genes)
        with open(os.path.join(root, "rsem", f"{g}.genes.results"), "w") as f:
            f.write("\n".join(lines) + "\n")

    # --- D3 idxstats: Inf, exactly-40 and conflicts among PASS samples -----
    cases = {passed[0]: "inf", passed[1]: "forty"}
    sex_rows, idx_rows = [], 0
    for g in gsms:
        if qc[g]["status"] == "NO_LOG":
            continue
        case = cases.get(g) or rng.choice("MF")
        text, ratio = _idxstats(rng, case)
        idx_rows += text.count("\n")
        with open(os.path.join(root, "idx", f"{g}.idxstats"), "w") as f:
            f.write(text)
        if g in passed:
            computed = "F" if ratio is None or ratio > 40 * SCALE else "M"
            sex_rows.append([g, input_sex[g], computed,
                             "Inf" if ratio is None else bc_str(ratio),
                             "Agree" if computed == input_sex[g] else "Conflict"])
    conflicts = [r[:5] + [sex_tpm[r[0]][s] for s in SEX_GENES]
                 for r in sex_rows if r[0] in sex_tpm]

    expected = {
        "seed": seed, "n_gsm": n_gsm, "n_genes": n_genes,
        "starqc": {g: [qc[g]["status"], qc[g].get("rate")] for g in gsms},
        "pass": [[first_run[g], g] for g in passed],
        "matrix_samples": matrix_samples,
        "tpm_digest": digest(tpm_cells),
        "counts_digest": digest(cnt_cells),
        "sex": sorted(sex_rows),
        "conflict": sorted(conflicts),
        "input_rows": {"expression": expr_rows, "log_lines": log_lines,
                       "idxstats": idx_rows},
        "input_bytes": sum(os.path.getsize(os.path.join(d, f))
                           for d, _, fs in os.walk(root) for f in fs),
    }
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def argv(root: str, out: str) -> list[str]:
    """``run_pipeline`` arguments for a generated project."""
    return ["--acclist", f"{root}/AccList.txt",
            "--star-logs", f"{root}/logs/*/Log.final.out",
            "--rsem", f"{root}/rsem/*.genes.results",
            "--idxstats", f"{root}/idx/*.idxstats",
            "--out", out, "--project", PROJECT]
