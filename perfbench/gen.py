"""Deterministic input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Sizes are fixed per workload (they never depend on
the seed), so runs with different seeds do the same amount of work on
different contents.
"""

from __future__ import annotations

import json
import os

import numpy as np

# ---------------------------------------------------------------------------
# the multistate delivery: NSLP lunch + SBP breakfast TSVs per state, shared
# dictionary templates, one manifest (FIXTURES.md A1-A3 shapes)
# ---------------------------------------------------------------------------

CLAIM_MONTHS = [
    "2017-10", "2017-11", "2017-12", "2018-01", "2018-02",
    "2018-03", "2018-04", "2018-05", "2018-06", "2018-07",
]
# state sizes fall off with rank like real state school counts
# (largest / smallest ~ 40x); the seed only decides which state gets
# which rank, so total work does not depend on the seed
SIZE_SKEW = 0.9
MIN_SCHOOLS = 4
BREAKFAST_SHARE = 0.85  # lunch schools that also run breakfast
BREAKFAST_ONLY_SHARE = 0.05  # breakfast schools with no lunch file row
NULL_MEAL_SHARE = 0.03
JUNK_EVERY = 3  # every 3rd state by size carries undictionaried columns
JUNK_LUNCH, JUNK_BRKF = 2, 1

DICT_HEADER = [
    "raw_data_column", "raw_data_column_name",
    "equivalent_clean_data_name", "notes",
]
# template 1 (lunch side) and template 2 (breakfast side); an empty
# clean name is NULL on load and drops the column, "NOT USED" drops too
DICT1_ROWS = [
    ("l1", "SCHOOL_NAME", "school name", ""),
    ("l2", "CLAIM_DATE", "claim date", ""),
    ("l3", "DISTRICT_ID", "district id", ""),
    ("l4", "PUBLIC", "PUBLIC", ""),
    ("l5", "SCHOOL TYPE", "SCHOOL TYPE", ""),
    ("l6", "LUNCH_FREE", "Lunch Meals-Free", ""),
    ("l7", "LUNCH_RED", "Lunch Meals-Reduced", ""),
    ("l8", "LUNCH_PAID", "Lunch Meals-Paid", ""),
    ("l9", "DAYS_LUNCH", "Operating Days-Lunch Only", ""),
    ("l10", "ENR_FREE", "Enrollment-Free", ""),
    ("l11", "ENR_RED", "Enrollment-Reduced", ""),
    ("l12", "ENR_TOT", "Enrollment-Total", ""),
    ("l13", "CEP_FLAG", "CEP (Y/N)", ""),
    ("l14", "SCHOOL_ID", "School ID", ""),
    ("l15", "SCHOOL_LEVEL", "School Level-Original", ""),
    ("l16", "LEGACY_COL", "OLD COLUMN NOT USED", ""),
    ("l17", "AGENCY_CODE", "", "no clean name: dropped"),
]
DICT2_ROWS = [
    ("b1", "SCHOOL_NAME", "school name", ""),
    ("b2", "CLAIM_DATE", "claim date", ""),
    ("b3", "DISTRICT_ID", "district id", ""),
    ("b4", "TRADITIONAL_MODEL", "TRADITIONAL_MODEL", ""),
    ("b5", "MID_MORNING_MODEL", "MID_MORNING_MODEL", ""),
    ("b6", "CLASSROOM_MODEL", "CLASSROOM_MODEL", ""),
    ("b7", "REDUCED_PRICE_MODEL", "REDUCED_PRICE_MODEL", ""),
    ("b8", "GRAB_N_GO_MODEL", "GRAB_N_GO_MODEL", ""),
    ("b9", "FREE_MODEL", "FREE_MODEL", ""),
    ("b10", "BRKF_FREE", "Breakfast Meals-Free", ""),
    ("b11", "BRKF_RED", "Breakfast Meals-Reduced", ""),
    ("b12", "DAYS_BRKF", "Operating Days-Breakfast Only", ""),
    ("b13", "SCHOOL_YEAR", "School Year", ""),
    ("b14", "AGENCY_NAME", "", "no clean name: dropped"),
]
LUNCH_COLS = [r[1] for r in DICT1_ROWS]
BRKF_COLS = [r[1] for r in DICT2_ROWS]
MODEL_COLS = [
    "TRADITIONAL_MODEL", "MID_MORNING_MODEL", "CLASSROOM_MODEL",
    "REDUCED_PRICE_MODEL", "GRAB_N_GO_MODEL", "FREE_MODEL",
]
SCHOOL_LEVELS = [
    "High School", "Elementary/Sec Combined", "RCCI", "Unknown",
    "Elementary School", "Junior H.S", "Middle School", "",
]


def state_codes(n: int) -> list[str]:
    return [f"S{i:02d}" for i in range(1, n + 1)]


def state_sizes(
    rng: np.random.Generator, n_states: int, total_schools: int
) -> list[tuple[int, bool]]:
    """(schools, carries junk columns) per state: a fixed rank profile,
    permuted by the seed."""
    w = 1.0 / np.arange(1, n_states + 1) ** SIZE_SKEW
    sizes = np.maximum(MIN_SCHOOLS, np.floor(w / w.sum() * total_schools)).astype(int)
    ranked = [(int(n), r % JUNK_EVERY == 1) for r, n in enumerate(sizes)]
    return [ranked[int(i)] for i in rng.permutation(n_states)]


def _write_tsv(path: str, header: list[str], rows: list[list[str]]) -> int:
    body = "\t".join(header) + "\n" + "".join("\t".join(r) + "\n" for r in rows)
    data = body.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _maybe(rng: np.random.Generator, vals: np.ndarray, share: float) -> list[str]:
    """Stringify ``vals``, blanking (NULL on load) a ``share`` of cells."""
    blank = rng.random(len(vals)) < share
    return ["" if b else str(int(v)) for v, b in zip(vals, blank)]


def _state_files(
    rng: np.random.Generator, state: str, n_schools: int, junk: bool, out_dir: str
) -> dict:
    months = len(CLAIM_MONTHS)
    ids = np.arange(n_schools)
    district = rng.integers(1, 999_999, size=n_schools)
    # how each side spells the district id: 0 = both 6-digit padded,
    # 1 = lunch unpadded, 2 = breakfast unpadded (pad needed one side)
    spelling = rng.choice(3, size=n_schools, p=[0.5, 0.3, 0.2])
    padded = [f"{d:06d}" for d in district]
    bare = [str(d) for d in district]
    lunch_did = [bare[i] if spelling[i] == 1 else padded[i] for i in ids]
    brkf_did = [bare[i] if spelling[i] == 2 else padded[i] for i in ids]
    names = [f"{state} School {i:05d}" for i in ids]
    has_brkf = rng.random(n_schools) < BREAKFAST_SHARE
    public = rng.choice(["YES", "NO"], size=n_schools, p=[0.8, 0.2])
    stype = rng.choice(["REGULAR", "RCCI"], size=n_schools, p=[0.93, 0.07])
    level = rng.choice(SCHOOL_LEVELS, size=n_schools)
    cep = rng.choice(["Y", "N", ""], size=n_schools, p=[0.3, 0.65, 0.05])
    enr_tot = rng.integers(80, 2500, size=n_schools)

    extra_lunch, extra_brkf = [], []
    if junk:
        extra_lunch = [f"JUNK_{state}_{k}" for k in range(JUNK_LUNCH)]
        extra_brkf = [f"JUNK_{state}_B{k}" for k in range(JUNK_BRKF)]
    lunch_header = list(rng.permutation(LUNCH_COLS + extra_lunch))
    brkf_header = list(rng.permutation(BRKF_COLS + extra_brkf))

    n = n_schools * months
    school = np.repeat(ids, months)
    month = np.tile(np.arange(months), n_schools)
    lf = rng.integers(0, 600, size=n)
    lr = rng.integers(0, 200, size=n)
    lp = rng.integers(0, 500, size=n)
    days_l = rng.integers(15, 23, size=n)
    ef = rng.integers(0, 800, size=n)
    er = rng.integers(0, 200, size=n)
    lunch_cells = {
        "SCHOOL_NAME": [names[s] for s in school],
        "CLAIM_DATE": [CLAIM_MONTHS[m] for m in month],
        "DISTRICT_ID": [lunch_did[s] for s in school],
        "PUBLIC": [str(public[s]) for s in school],
        "SCHOOL TYPE": [str(stype[s]) for s in school],
        "LUNCH_FREE": _maybe(rng, lf, NULL_MEAL_SHARE),
        "LUNCH_RED": _maybe(rng, lr, NULL_MEAL_SHARE),
        "LUNCH_PAID": _maybe(rng, lp, NULL_MEAL_SHARE),
        "DAYS_LUNCH": [str(int(d)) for d in days_l],
        "ENR_FREE": _maybe(rng, ef, NULL_MEAL_SHARE),
        "ENR_RED": _maybe(rng, er, NULL_MEAL_SHARE),
        "ENR_TOT": [str(int(enr_tot[s])) for s in school],
        "CEP_FLAG": [str(cep[s]) for s in school],
        "SCHOOL_ID": [str(int(s) + 1) for s in school],
        "SCHOOL_LEVEL": [str(level[s]) for s in school],
        "LEGACY_COL": ["legacy"] * n,
        "AGENCY_CODE": [f"A{int(district[s]) % 997:03d}" for s in school],
    }
    for c in extra_lunch:
        lunch_cells[c] = ["junk"] * n
    lunch_rows = [list(r) for r in zip(*(lunch_cells[c] for c in lunch_header))]

    # breakfast: the breakfast-running lunch schools plus a few
    # breakfast-only schools the linkage join must drop
    n_extra = max(1, int(round(n_schools * BREAKFAST_ONLY_SHARE)))
    b_names = [names[i] for i in ids if has_brkf[i]] + [
        f"{state} Annex {j:04d}" for j in range(n_extra)
    ]
    b_did = [brkf_did[i] for i in ids if has_brkf[i]] + [
        f"{int(d):06d}" for d in rng.integers(1, 999_999, size=n_extra)
    ]
    nb = len(b_names)
    m = nb * months
    bschool = np.repeat(np.arange(nb), months)
    bmonth = np.tile(np.arange(months), nb)
    flags = {
        c: rng.choice(["Y", "N", ""], size=nb, p=[0.4, 0.5, 0.1]) for c in MODEL_COLS
    }
    year = rng.choice(["17-18", "16-17", ""], size=nb, p=[0.7, 0.1, 0.2])
    brkf_cells = {
        "SCHOOL_NAME": [b_names[s] for s in bschool],
        "CLAIM_DATE": [CLAIM_MONTHS[k] for k in bmonth],
        "DISTRICT_ID": [b_did[s] for s in bschool],
        **{c: [str(flags[c][s]) for s in bschool] for c in MODEL_COLS},
        "BRKF_FREE": _maybe(rng, rng.integers(0, 400, size=m), NULL_MEAL_SHARE),
        "BRKF_RED": _maybe(rng, rng.integers(0, 120, size=m), NULL_MEAL_SHARE),
        "DAYS_BRKF": [str(int(d)) for d in rng.integers(15, 23, size=m)],
        "SCHOOL_YEAR": [str(year[s]) for s in bschool],
        "AGENCY_NAME": [f"Agency {s % 50}" for s in bschool],
    }
    for c in extra_brkf:
        brkf_cells[c] = ["junk"] * m
    brkf_rows = [list(r) for r in zip(*(brkf_cells[c] for c in brkf_header))]

    lunch_path = os.path.join(out_dir, f"{state}_nslp.tsv")
    brkf_path = os.path.join(out_dir, f"{state}_sbp.tsv")
    nbytes = _write_tsv(lunch_path, lunch_header, lunch_rows)
    nbytes += _write_tsv(brkf_path, brkf_header, brkf_rows)
    return {
        "state": state,
        "lunch": lunch_path,
        "breakfast": brkf_path,
        "golden": os.path.join(out_dir, f"{state}_golden.parquet"),
        "rows": len(lunch_rows) + len(brkf_rows),
        "bytes": nbytes,
    }


def gen_multistate(seed: int, out_dir: str, n_states: int, total_schools: int) -> dict:
    """Write dictionaries, per-state TSVs and ``manifest.json`` under
    ``out_dir``; return the manifest dict plus input totals. The golden
    parquet paths are listed but written by ``golden.write_goldens``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    dict1 = os.path.join(out_dir, "template1.tsv")
    dict2 = os.path.join(out_dir, "template2.tsv")
    _write_tsv(dict1, DICT_HEADER, [list(r) for r in DICT1_ROWS])
    _write_tsv(dict2, DICT_HEADER, [list(r) for r in DICT2_ROWS])
    codes = state_codes(n_states)
    sizes = state_sizes(rng, n_states, total_schools)
    states = [
        _state_files(rng, st, n, junk, out_dir) for st, (n, junk) in zip(codes, sizes)
    ]
    manifest = {
        "dict1": dict1,
        "dict2": dict2,
        "output": os.path.join(out_dir, "final"),
        "states": [
            {k: s[k] for k in ("state", "lunch", "breakfast", "golden")}
            for s in states
        ],
    }
    path = os.path.join(out_dir, "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f, indent=1)
    return {
        "manifest_path": path,
        "manifest": manifest,
        "input_rows": sum(s["rows"] for s in states),
        "input_bytes": sum(s["bytes"] for s in states),
    }


# ---------------------------------------------------------------------------
# the ingest ticks: a sparse-vocabulary corpus plus batches with planted
# exact and near duplicates
# ---------------------------------------------------------------------------

VOCAB = 5_000
ZIPF_A = 0.9
DOC_WORDS = (20, 90)
BOOT_DOCS = 300
BATCH_FRESH = 280
PLANT_EXACT = 8  # renamed copies of already published docs
PLANT_NEAR = 8  # published docs with ~5% of words substituted
PLANT_WITHIN = 5  # renamed copies of docs in the same batch
NEAR_SUB = 0.05
TICK_ID_STRIDE = 1_000_000


def _vocab(rng: np.random.Generator) -> np.ndarray:
    # random 8-letter words keep character shingles sparse
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(letters[rng.integers(0, 26, size=8)]))
    return np.array(sorted(words))


class CorpusGen:
    """Seeded document source: fresh docs from a Zipf-weighted
    vocabulary, plus near-duplicates of given docs."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_A
        self.p = p / p.sum()

    def fresh(self, n: int) -> list[str]:
        lens = self.rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, size=n)
        return [
            " ".join(self.vocab[self.rng.choice(VOCAB, size=k, p=self.p)])
            for k in lens
        ]

    def near(self, text: str) -> str:
        words = text.split(" ")
        k = max(1, int(round(len(words) * NEAR_SUB)))
        for i in self.rng.choice(len(words), size=k, replace=False):
            words[i] = str(self.vocab[self.rng.integers(0, VOCAB)])
        return " ".join(words)


def gen_ingest(seed: int, n_ticks: int) -> dict:
    """Bootstrap corpus and ``n_ticks`` batches, all fixed by the seed.

    Each batch holds fresh docs plus planted duplicates whose sources are
    earlier docs (the bootstrap or an earlier batch): renamed exact
    copies, near copies with ~5% of words substituted, and exact copies
    of docs in the same batch. ``planted_exact[t]`` maps each renamed
    exact copy in batch ``t`` to its source id.
    """
    gen = CorpusGen(seed)
    boot = list(enumerate(gen.fresh(BOOT_DOCS)))
    earlier = list(boot)
    batches, planted_exact = [], []
    for tick in range(1, n_ticks + 1):
        base = tick * TICK_ID_STRIDE
        fresh = [(base + i, t) for i, t in enumerate(gen.fresh(BATCH_FRESH))]
        rows = list(fresh)
        nxt = base + BATCH_FRESH
        copies: dict[int, int] = {}
        pick = gen.rng.choice(len(earlier), size=PLANT_EXACT + PLANT_NEAR, replace=False)
        for j, k in enumerate(pick):
            src_id, text = earlier[int(k)]
            if j < PLANT_EXACT:
                copies[nxt] = src_id
            else:
                text = gen.near(text)
            rows.append((nxt, text))
            nxt += 1
        for k in gen.rng.choice(BATCH_FRESH, size=PLANT_WITHIN, replace=False):
            rows.append((nxt, fresh[int(k)][1]))
            nxt += 1
        order = gen.rng.permutation(len(rows))
        batches.append([rows[int(i)] for i in order])
        planted_exact.append(copies)
        earlier += fresh
    return {"bootstrap": boot, "batches": batches, "planted_exact": planted_exact}
