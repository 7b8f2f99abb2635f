"""Seeded input generators for the benchmark.

Two generators, each a pure function of its seed:

- `corpus`: a text corpus with planted exact duplicates, planted
  near-duplicates (edited copies), and a probe set in which a known share of
  probes are slices of corpus docs; returns the planted truth.
- `requests`: the cohort API request stream, drawn from a fixed parameter
  pool (every pool entry has a pinned response) in a seeded order.

The nightly build and the cohort API read fixed tables instead: the
repository's seed-42 test tables at sf 0.01, copied unchanged into
`perfbench/data/sf0.01` (see README.md). Their outputs are pinned, so
their input never varies.
"""

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTAM_THRESHOLD = 0.5
PROBE_ID_BASE = 1_000_000_000


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def _grams(ids, v):
    """Distinct word 3-grams of a doc (word ids < v) as int64 codes — the
    program's shingle unit, `Dedup.wordGrams(text, 3)`, up to renaming."""
    return np.unique(ids[:-2] * v * v + ids[1:-1] * v + ids[2:])


def corpus(out_dir, seed, n_base, n_files, n_probes):
    """Write a planted-truth corpus (`corpus/part-*.parquet`, `n_files`
    files), its probe set (`probes.parquet`) and `truth.json`; return the
    truth dict.

    Layout: `n_base` unique docs of 80-200 words; 10% of them get 1-3 exact
    copies, 20% get one edited copy (2-4 words replaced, Jaccard of 3-word
    shingles >= 0.73). Half the probes are 40-word slices of corpus docs,
    the rest fresh text. Truth is computed from the written docs themselves,
    so it holds whatever the draws were:
      exact_groups   {min id: copies} for every text present more than once
      near_pairs     planted (doc, edited copy) pairs
      contaminated   docs holding >= CONTAM_THRESHOLD of some probe's grams
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "de",
            "fi", "go", "hu", "ja", "be"]
    vocab = np.array(sorted({"".join(rng.choice(syll, size=rng.integers(2, 5)))
                             for _ in range(6000)}))
    v = len(vocab)

    docs = [rng.integers(0, v, int(rng.integers(80, 200))) for _ in range(n_base)]
    near_pairs = []
    for i in range(n_base):
        r = rng.random()
        if r < 0.10:
            docs.extend(docs[i].copy() for _ in range(int(rng.integers(1, 4))))
        elif r < 0.30:
            copy = docs[i].copy()
            pos = rng.choice(len(copy), size=int(rng.integers(2, 5)), replace=False)
            copy[pos] = rng.integers(0, v, len(pos))
            docs.append(copy)
            near_pairs.append((i, len(docs) - 1))
    order = rng.permutation(len(docs))           # ids do not reveal the plant
    new_id = np.empty(len(docs), dtype=np.int64)
    new_id[order] = np.arange(len(docs))
    docs = [docs[j] for j in order]
    near_pairs = sorted((int(min(new_id[a], new_id[b])), int(max(new_id[a], new_id[b])))
                        for a, b in near_pairs)

    probes = []
    for k in range(n_probes):
        if k % 2 == 0:
            src = docs[int(rng.integers(0, len(docs)))]
            at = int(rng.integers(0, len(src) - 40))
            probes.append(src[at:at + 40])
        else:
            probes.append(rng.integers(0, v, 40))

    words = vocab.tolist()
    texts = [" ".join([words[w] for w in d.tolist()]) for d in docs]
    for f, idx in enumerate(np.array_split(np.arange(len(texts)), n_files)):
        _write(os.path.join(out_dir, "corpus", f"part-{f:03d}.parquet"),
               [idx.astype(np.int64), [texts[i] for i in idx]],
               pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))
    _write(os.path.join(out_dir, "probes.parquet"),
           [np.arange(n_probes, dtype=np.int64) + PROBE_ID_BASE,
            [" ".join([words[w] for w in p.tolist()]) for p in probes]],
           pa.schema([("probe_id", pa.int64()), ("text", pa.string())]))

    first, copies = {}, {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
        copies[t] = copies.get(t, 0) + 1
    exact_groups = {str(first[t]): n for t, n in copies.items() if n > 1}

    # inverted index: every (gram, doc) pair, sorted by gram
    doc_grams = [_grams(d, v) for d in docs]
    g_all = np.concatenate(doc_grams)
    d_all = np.repeat(np.arange(len(docs)), [len(g) for g in doc_grams])
    by_gram = np.argsort(g_all, kind="stable")
    g_all, d_all = g_all[by_gram], d_all[by_gram]
    contaminated = set()
    for p in probes:
        pg = _grams(p, v)
        lo = np.searchsorted(g_all, pg, "left")
        hi = np.searchsorted(g_all, pg, "right")
        hits = np.concatenate([d_all[a:b] for a, b in zip(lo, hi)])
        ids, n = np.unique(hits, return_counts=True)
        contaminated.update(ids[n / len(pg) >= CONTAM_THRESHOLD].tolist())
    truth = {"n_docs": len(texts), "n_probes": n_probes,
             "exact_groups": exact_groups, "near_pairs": near_pairs,
             "contaminated": sorted(contaminated)}
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


# The cohort API's parameter pool: POOL_SIZE entries per endpoint, drawn
# once from POOL_SEED. Every entry has a pinned response (pins.json); the
# run seed only chooses which entries are requested and in what order.
ENDPOINTS = ["claims_elig", "mcaid_cohort", "claims_summary", "tabloop",
             "top_causes"]
POOL_SEED = 7
POOL_SIZE = 12
SUMMARY_FLAGS = [["inpatient", "ed"],
                 ["inpatient", "ipt_medsurg", "ipt_bh", "ed", "ed_avoid_ca"],
                 ["ed", "ed_emergent_nyu", "ed_nonemergent_nyu", "ed_intermediate_nyu"]]


def _day(base, offset):
    return (base + timedelta(days=int(offset))).strftime("%Y-%m-%d")


def param_pool():
    """Return {endpoint: [params dict, ...]} — fixed, independent of runs."""
    rng = np.random.Generator(np.random.PCG64(POOL_SEED))
    pick = lambda xs: xs[int(rng.integers(0, len(xs)))]
    pool = {e: [] for e in ENDPOINTS}
    for _ in range(POOL_SIZE):
        start = int(rng.integers(0, 15))
        pool["claims_elig"].append({
            "from": _day(datetime(2024, 1, 1), start),
            "to": _day(datetime(2024, 1, 1), start + int(rng.integers(7, 16))),
            "cov_min_pct": pick([None, 10.0, 20.0, 40.0]),
            "covgap_max": pick([None, 3, 5, 10]),
            "modal_types": pick([None, ["click", "view"], ["purchase", "error", "signup"]]),
            "min_cov_days": pick([None, 2, 4])})
        y = int(rng.integers(1995, 2001))
        zips = sorted(str(98001 + z) for z in rng.choice(10, size=int(rng.integers(2, 6)),
                                                         replace=False))
        cohort = {
            "from": f"{y}-01-01", "to": f"{y + int(rng.integers(0, 2))}-12-31",
            "cov_min": pick([0.0, 2.0, 10.0]), "ccov_min": pick([1, 3, 7]),
            "covgap_max": pick([None, 180, 360]), "dual_max": pick([50.0, 95.0, 100.0]),
            "age_min": pick([0, 1, 18]), "age_max": pick([64, 90, 200]),
            "zip": ",".join(zips),
            "region": pick([None, "Region 0,Region 1", "Region 2,Region 3"])}
        pool["mcaid_cohort"].append(cohort)
        pool["claims_summary"].append(dict(cohort, flags=pick(SUMMARY_FLAGS)))
        fixed = pick(["o_orderstatus", "o_orderpriority"])
        loops = [l for l in ["o_orderpriority", "o_year", "o_custbucket"] if l != fixed]
        pool["tabloop"].append({
            "fixed": fixed,
            "loops": sorted(rng.choice(loops, size=int(rng.integers(1, len(loops) + 1)),
                                       replace=False).tolist()),
            "year_min": int(rng.integers(1995, 2000))})
        pool["top_causes"].append({
            "cause": pick(["p_type", "p_brand", "p_name"]),
            "year": int(rng.integers(1995, 2002)), "n": pick([3, 5, 10, 20])})
    return pool


def requests(seed, n):
    """Seeded request stream: blocks of one request per endpoint in a
    seeded order, each drawing a seeded pool entry. A fixed endpoint mix
    per block keeps latency percentiles comparable across seeds."""
    rng = np.random.Generator(np.random.PCG64(seed))
    out = []
    while len(out) < n:
        for e in rng.permutation(ENDPOINTS):
            out.append({"endpoint": str(e), "param": int(rng.integers(0, POOL_SIZE))})
    return out[:n]
