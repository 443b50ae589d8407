"""Seeded input generator for the graft benchmark.

The same seed gives byte-identical files. Sizes are fixed per workload so
that runs with different seeds do the same amount of work; the seed draws the
content: key skew, missing values, duplicate and out-of-order ticks (series),
HTML boilerplate, planted exact and near duplicates, planted contamination and
the language mix (corpus), and the pages of the incremental deltas and how
they split across the deltas.

    python3 perfbench/gen.py --workload series_dataset --seed 7 --out DIR

writes the input files plus `truth.json` (the planted ground truth the
checkers use) and prints the sha256 over all written files.
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("series_dataset", "corpus_curation")

# --- sizes (fixed: the seed never changes how much work a run does)
SERIES_KEYS = 160
SERIES_HOURS = 24 * 14
SERIES_ROWS = 120_000
# Zipf exponent of the rows per key, fitted to the repo's own time-series
# test table (sf0.1 `events`, 100,000 events of 1,500 users): the slope of
# log(events per user) on log(rank) is -0.11, and its top 10% of users hold
# 12% of the events. The other shares below are assumed (see the README).
SERIES_SKEW = 0.11
T0_US = 1_700_006_400_000_000  # 2023-11-15T00:00:00Z, an hour boundary

CORPUS_UNIQUE = 500       # distinct English base documents
CORPUS_CLUSTERS = 200     # of them, seeds of planted near-duplicate pairs
CORPUS_EXACT = 125        # planted exact copies of base documents
CORPUS_FOREIGN = 100      # de / es / fr documents
CORPUS_BOILER = 60        # pages whose visible text is only boilerplate
CORPUS_CONTAM = 30        # English pages carrying a benchmark passage
BENCH_TEXTS = 10
BENCH_WORDS = 30

DELTA_COUNT = 4           # deltas of the incremental loop
DELTA_DOCS = 400          # documents over all deltas

EN_STOPS = ["the", "and", "of", "a", "to", "with", "that"]
FOREIGN = {
    "de": ["der", "und", "die", "das", "mit", "ist"],
    "es": ["el", "la", "los", "que", "con", "una"],
    "fr": ["le", "les", "des", "une", "avec", "est"],
}
CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"


def _vocab(n, tag):
    """A fixed vocabulary of pronounceable pseudo-words (seed-independent)."""
    r = np.random.default_rng(abs(hash_int(tag)) % (2 ** 32))
    words = set()
    while len(words) < n:
        k = int(r.integers(2, 5))
        w = "".join(CONSONANTS[int(r.integers(len(CONSONANTS)))] +
                    VOWELS[int(r.integers(len(VOWELS)))] for _ in range(k))
        words.add(w)
    return sorted(words)


def hash_int(s):
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, version="2.6")


def sha256_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ------------------------------------------------------------------ series

def gen_series(seed, out):
    path = os.path.join(out, "series.parquet")
    truth = series_file(np.random.default_rng([seed, 1]), path)
    # the incremental loop of the traced run: deltas of crawl pages, the
    # benchmark texts they are decontaminated against, a small series
    bench = _bench(np.random.default_rng([seed, 7]))
    bpath = os.path.join(out, "bench.parquet")
    _write_bench(bench, bpath)
    delta_paths, delta_truth = gen_deltas(seed, out, bench)
    small = gen_series_small(seed, out)
    truth.update(delta_truth)
    return [path, bpath] + delta_paths + [small], truth


def series_file(rng, path):
    p_missing = 0.06 + 0.02 * rng.random()    # share of NULL values
    p_dup = 0.05 + 0.02 * rng.random()        # duplicate ticks (same time)
    p_ooo = 0.06 + 0.03 * rng.random()        # rows out of time order
    p_bad = 0.03

    # key skew: Zipf weights with a fixed exponent (the hottest key's share
    # sets the slowest window partition, so it stays the same for every
    # seed); the seed draws which keys are hot and the exact counts
    w = 1.0 / np.arange(1, SERIES_KEYS + 1) ** SERIES_SKEW
    w = w[rng.permutation(SERIES_KEYS)]
    counts = 40 + rng.multinomial(SERIES_ROWS - 40 * SERIES_KEYS, w / w.sum())
    key = np.repeat(np.arange(1, SERIES_KEYS + 1, dtype=np.int64), counts)
    n = len(key)
    sec = rng.integers(0, SERIES_HOURS * 3600, size=n)
    # duplicate ticks: copy the time of the previous row of the same key
    dup = rng.random(n) < p_dup
    order = np.lexsort((sec, key))
    key, sec, dup = key[order], sec[order], dup[order]
    same_key_prev = np.r_[False, key[1:] == key[:-1]]
    dup &= same_key_prev
    sec = np.where(dup, np.r_[sec[:1], sec[:-1]], sec)
    ts = T0_US + sec.astype(np.int64) * 1_000_000
    level = 50.0 + 30.0 * rng.random(SERIES_KEYS + 1)
    steps = rng.normal(0.0, 1.0, size=n)
    # per-key random walk around the key's level
    walk = np.cumsum(steps)
    starts = np.r_[0, np.flatnonzero(key[1:] != key[:-1]) + 1]
    base = np.repeat(walk[starts] - steps[starts], np.diff(np.r_[starts, n]))
    value = np.round(level[key] + (walk - base), 4)
    missing = rng.random(n) < p_missing
    volume = np.round(rng.gamma(2.0, 5.0, size=n) + 0.5, 3)
    promo = np.where(rng.random(n) < 0.1, np.round(rng.random(n) * 10, 3), np.nan)
    status = np.where(rng.random(n) < p_bad, "bad", "ok")
    tick = np.round(sec / 3600.0, 6)
    # file order: time-sorted per key except a share of rows moved elsewhere
    pos = np.arange(n, dtype=np.float64)
    moved = rng.random(n) < p_ooo
    pos[moved] = rng.random(moved.sum()) * n
    perm = np.argsort(pos, kind="stable")
    seq = np.arange(n, dtype=np.int64)  # tiebreak: arrival sequence
    table = pa.table({
        "entity_id": pa.array(key[perm]),
        "ts": pa.array(ts[perm], type=pa.timestamp("us", tz="UTC")),
        "seq": pa.array(seq),
        "status": pa.array(status[perm]),
        "value": pa.array(value[perm], mask=missing[perm]),
        "volume": pa.array(volume[perm]),
        "promo": pa.array(promo[perm], mask=np.isnan(promo[perm])),
        "tick": pa.array(tick[perm]),
    })
    _write(table, path)
    return {"rows": int(n), "keys": SERIES_KEYS, "hours": SERIES_HOURS,
            "skew": SERIES_SKEW, "p_missing": p_missing, "p_dup": p_dup,
            "p_ooo": p_ooo, "t0_us": T0_US}


# ------------------------------------------------------------------ corpus

EN_VOCAB = _vocab(3000, "en")
FOREIGN_VOCAB = {lang: _vocab(1500, lang) for lang in FOREIGN}
NAV = ("<nav><ul><li><a href='/'>Home</a></li><li><a href='/about'>About</a>"
       "</li><li><a href='/contact'>Contact</a></li></ul></nav>")
FOOTER = "<footer><p>Copyright 2024 Example Media | Privacy | Terms</p></footer>"
SCRIPT = "<script>var t = {a: 1, b: [2, 3]}; track(t);</script>"
STYLE = "<style>body {margin: 0} .x {color: red}</style>"


def _english_words(rng, n):
    words = []
    for _ in range(n):
        if rng.random() < 0.3:
            words.append(EN_STOPS[int(rng.integers(len(EN_STOPS)))])
        else:
            words.append(EN_VOCAB[int(rng.integers(len(EN_VOCAB)))])
    return words


def _foreign_words(rng, lang, n):
    stops, vocab = FOREIGN[lang], FOREIGN_VOCAB[lang]
    return [stops[int(rng.integers(len(stops)))] if rng.random() < 0.3
            else vocab[int(rng.integers(len(vocab)))] for _ in range(n)]


PARAGRAPH_WORDS = 30


def _paragraphs(words, passage=None, at=0):
    """Fixed-size paragraphs (so near-duplicates differ only in the words
    that were changed); a planted passage is its own paragraph."""
    out = [" ".join(words[i:i + PARAGRAPH_WORDS]) + "."
           for i in range(0, len(words), PARAGRAPH_WORDS)]
    if passage:
        out.insert(min(at, len(out)), " ".join(passage))
    return out


def _html(paragraphs, boiler):
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    if boiler:
        return (f"<html><head>{STYLE}</head><body>{NAV}{SCRIPT}"
                f"<article>{body}</article>{FOOTER}</body></html>")
    return f"<html><body><article>{body}</article></body></html>"


def shingles(words, k=3):
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def _bench(rng):
    return [" ".join(_english_words(rng, BENCH_WORDS)) for _ in range(BENCH_TEXTS)]


def corpus_docs(rng, n_unique, n_clusters, n_exact, n_foreign, n_boiler,
                n_contam, bench, p_boiler, first_id=1):
    """Documents with planted structure. Returns (rows, truth) where each row
    is (doc_id, html) and truth maps doc_id -> planted facts."""
    docs = []  # (words, boilerplate?, passage, facts)
    base_words = []
    for _ in range(n_unique):
        words = _english_words(rng, int(rng.integers(80, 200)))
        base_words.append(words)
        docs.append((words, rng.random() < p_boiler, None, {"kind": "unique"}))
    # near-duplicate clusters: one variant with a few substituted words per
    # seed document. A pair is one edge, so every seed gives the connected
    # components the same shape and the same number of rounds (two variants
    # of one page can fall below the threshold with each other, and a
    # three-node path takes one round more than a triangle)
    for c in range(n_clusters):
        src = base_words[c]
        docs[c][3]["cluster"] = c
        words = list(src)
        for i in rng.choice(len(words), max(1, len(words) // 60), replace=False):
            words[i] = EN_VOCAB[int(rng.integers(len(EN_VOCAB)))]
        docs.append((words, docs[c][1], None,
                     {"kind": "near", "cluster": c,
                      "jaccard": round(jaccard(src, words), 4)}))
    for _ in range(n_foreign):
        lang = sorted(FOREIGN)[int(rng.integers(len(FOREIGN)))]
        docs.append((_foreign_words(rng, lang, int(rng.integers(80, 200))),
                     rng.random() < p_boiler, None,
                     {"kind": "foreign", "lang": lang}))
    for _ in range(n_contam):
        words = _english_words(rng, int(rng.integers(80, 200)))
        b = bench[int(rng.integers(len(bench)))].split()
        start = int(rng.integers(0, len(b) - 12))
        docs.append((words, rng.random() < p_boiler, b[start:start + 12],
                     {"kind": "contaminated"}))
    rows = []
    for words, boiler, passage, facts in docs:
        at = int(rng.integers(0, 1 + len(words) // PARAGRAPH_WORDS))
        html = _html(_paragraphs(words, passage, at), boiler)
        rows.append([html, facts])
    for _ in range(n_boiler):
        rows.append([f"<html><body>{NAV}<p>Loading</p>{FOOTER}</body></html>",
                     {"kind": "boilerplate"}])
    # planted exact copies: identical html of a unique or near document
    for j in rng.choice(n_unique, n_exact, replace=True):
        rows.append([rows[int(j)][0], {"kind": "exact", "copy_of_row": int(j)}])
    order = rng.permutation(len(rows))
    out_rows, truth = [], {}
    row_to_id = {}
    for new_pos, old in enumerate(order):
        row_to_id[int(old)] = first_id + new_pos
    for old in order:
        html, facts = rows[int(old)]
        doc_id = row_to_id[int(old)]
        facts = dict(facts)
        if facts["kind"] == "exact":
            facts["copy_of"] = row_to_id[facts.pop("copy_of_row")]
        facts["group"] = hashlib.sha256(html.encode()).hexdigest()[:16]
        out_rows.append((doc_id, html))
        truth[doc_id] = facts
    return out_rows, truth


def _write_bench(bench, path):
    _write(pa.table({"doc_id": pa.array(range(len(bench)), type=pa.int64()),
                     "html": pa.array(bench)}), path)


def _docs_table(rows):
    return pa.table({"doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                     "html": pa.array([r[1] for r in rows])})


def gen_corpus(seed, out):
    rng = np.random.default_rng([seed, 2])
    p_boiler = 0.4 + 0.2 * rng.random()
    bench = _bench(rng)
    rows, truth = corpus_docs(rng, CORPUS_UNIQUE, CORPUS_CLUSTERS,
                              CORPUS_EXACT, CORPUS_FOREIGN, CORPUS_BOILER,
                              CORPUS_CONTAM, bench, p_boiler)
    docs = os.path.join(out, "docs.parquet")
    _write(_docs_table(rows), docs)
    bpath = os.path.join(out, "bench.parquet")
    _write_bench(bench, bpath)
    truth = {"p_boiler": p_boiler, "docs": {str(k): v for k, v in truth.items()}}
    return [docs, bpath], truth


# ------------------------------------------------------------- incremental

def gen_deltas(seed, out, bench, delta_count=DELTA_COUNT, delta_docs=DELTA_DOCS):
    """Small deltas of fresh crawl pages for the incremental loop, including
    exact re-crawls and near-duplicates across deltas; the seed draws the
    pages and how they split across the deltas."""
    rng = np.random.default_rng([seed, 3])
    rows, truth = corpus_docs(rng, int(delta_docs * 0.6), int(delta_docs * 0.1),
                              int(delta_docs * 0.1), int(delta_docs * 0.08),
                              int(delta_docs * 0.05), int(delta_docs * 0.04),
                              bench, 0.5, first_id=1_000_001)
    sizes = np.floor(rng.dirichlet(np.full(delta_count, 8.0)) * len(rows)).astype(int)
    sizes = np.maximum(sizes, 20)
    sizes[-1] = len(rows) - sizes[:-1].sum()
    paths, at = [], 0
    for d, k in enumerate(sizes):
        p = os.path.join(out, f"delta-{d:02d}.parquet")
        _write(_docs_table(rows[at:at + k]), p)
        for r in rows[at:at + k]:
            truth[r[0]]["delta"] = d
        paths.append(p)
        at += k
    return paths, {"deltas": [int(s) for s in sizes],
                   "delta_docs": {str(k): v for k, v in truth.items()}}


def gen_series_small(seed, out):
    """A small series input for the unchanged `--if-changed` project."""
    rng = np.random.default_rng([seed, 4])
    n = 4000
    key = rng.integers(1, 21, size=n).astype(np.int64)
    sec = rng.integers(0, 48 * 3600, size=n)
    table = pa.table({
        "entity_id": pa.array(key),
        "ts": pa.array(T0_US + sec.astype(np.int64) * 1_000_000,
                       type=pa.timestamp("us", tz="UTC")),
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "value": pa.array(np.round(rng.normal(10, 2, size=n), 4)),
    })
    path = os.path.join(out, "series_small.parquet")
    _write(table, path)
    return path


GENERATORS = {"series_dataset": gen_series, "corpus_curation": gen_corpus}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    paths, truth = GENERATORS[workload](seed, out)
    tpath = os.path.join(out, "truth.json")
    with open(tpath, "w") as f:
        json.dump(truth, f, sort_keys=True)
    return sha256_files(paths + [tpath])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.out))


if __name__ == "__main__":
    main()
