"""Checkers for the benchmark's outputs, written apart from the program.

Each checker returns a list of `{"name", "ok", "detail"}`; every entry counts
as one operation attempted, a failed one as one failed. They run after the
timed JVM has exited:

- series_dataset: the same journey computed by DuckDB over the same input
  file, plus properties of a split dataset (folds partition the samples,
  each fold's scaled train columns have mean 0 and population std 1, every
  sample time is on the cadence grid);
- corpus_curation: the served corpus against the planted ground truth of
  the generator (exact and near duplicates, contamination, language mix);
- the incremental loop (in a traced series_dataset run): the streamed texts
  equal the batch journey over the union of the deltas, the `--if-changed`
  refresh was a cache hit that ran no Spark job, and the stream agrees with
  the planted ground truth.
"""
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

CADENCE_US = 3_600_000_000
SPLIT_SEED = 7
RATIOS = [("a", 0.25), ("b", 0.25), ("c", 0.25), ("d", 0.25)]
FOLDS = {"f0": {"a": "train", "b": "train", "c": "validation", "d": "test"},
         "f1": {"c": "train", "d": "train", "a": "validation", "b": "test"}}
FEATURES = ["value_ff", "roll6", "lag1", "slope4", "promo", "vol_seq"]
TARGETS = ["fwd_vol3"]
SCALED = ["value_ff", "roll6", "vol_seq"]
COLUMN_THRESHOLD = 0.5
ROW_THRESHOLD = 0.6
STREAM_RECALL = 0.95


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    return "count"


def _check(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": detail}


def _parquet(path):
    return os.path.join(path, "*.parquet")


# ------------------------------------------------------------------ series

SERIES_SQL = f"""
WITH src AS (
  SELECT entity_id, seq, value, volume, promo, tick,
         epoch_us(ts) - epoch_us(ts) % {CADENCE_US} AS t_us
  FROM read_parquet($input) WHERE status <> 'bad'),
collapsed AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY entity_id, t_us ORDER BY seq DESC) AS rn
    FROM src) WHERE rn = 1),
filled AS (
  SELECT *, last_value(value IGNORE NULLS) OVER (
      PARTITION BY entity_id ORDER BY t_us, seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
  FROM collapsed),
ordered AS (
  SELECT *,
    CASE WHEN count(value_ff) OVER w6 >= 3 THEN avg(value_ff) OVER w6 END AS roll6,
    lag(value_ff, 1) OVER w AS lag1,
    CASE WHEN count(*) OVER wf = 3 AND count(volume) OVER wf = 3
         THEN sum(volume) OVER wf END AS fwd_vol3,
    sum(CASE WHEN value_ff IS NULL OR tick IS NULL THEN 1 ELSE 0 END) OVER (
      PARTITION BY entity_id ORDER BY t_us, seq
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
    row_number() OVER w AS rn,
    lag(volume, 3) OVER w AS v3, lag(volume, 2) OVER w AS v2,
    lag(volume, 1) OVER w AS v1
  FROM filled
  WINDOW w AS (PARTITION BY entity_id ORDER BY t_us, seq),
         w6 AS (PARTITION BY entity_id ORDER BY t_us, seq
                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY entity_id ORDER BY t_us, seq
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING))
SELECT t_us, entity_id, value_ff, roll6, lag1, promo, fwd_vol3,
  CASE WHEN value_ff IS NOT NULL AND tick IS NOT NULL AND
            count(CASE WHEN value_ff IS NOT NULL AND tick IS NOT NULL THEN 1 END)
              OVER (PARTITION BY entity_id, run ORDER BY t_us, seq
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) >= 4
       THEN regr_slope(value_ff, tick) OVER (
              PARTITION BY entity_id, run ORDER BY t_us, seq
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) END AS slope4,
  CASE WHEN rn >= 4 THEN [v3, v2, v1, volume] END AS vol_seq
FROM ordered
"""


def split_label(t_us, key):
    h = hashlib.sha256(f"{SPLIT_SEED}|{t_us}|{key}".encode()).hexdigest()
    r = (int(h[2:16], 16) & ((1 << 53) - 1)) / float(1 << 53)
    acc = 0.0
    for label, ratio in RATIOS:
        acc += ratio
        if r < acc:
            return label
    return RATIOS[-1][0]


def _missing(v):
    return v is None or (isinstance(v, float) and np.isnan(v))


def _present(col):
    return ~pd.isna(pd.Series(col)).to_numpy()


def _elements(col):
    """All elements of the non-missing arrays of a sequence column."""
    return np.array([x for v in col if not _missing(v) for x in v], dtype=float)


def series_expected(input_path):
    """The served dataset, computed by DuckDB and numpy from the input."""
    con = duckdb.connect()
    df = con.execute(SERIES_SQL, {"input": input_path}).df()
    # coverage column selection, then the row filter over retained features
    n = len(df)
    retained = [f for f in FEATURES if _present(df[f]).sum() / n >= COLUMN_THRESHOLD]
    present = sum(_present(df[f]).astype(int) for f in retained)
    df = df[present >= ROW_THRESHOLD * len(retained)].copy()
    df["label"] = [split_label(t, k) for t, k in zip(df.t_us, df.entity_id)]
    folds = []
    for fold, roles in FOLDS.items():
        part = df[df.label.isin(list(roles))].copy()
        part["fold"] = fold
        part["role"] = part.label.map(roles)
        train = part[part.role == "train"]
        for c in [s for s in SCALED if s in retained]:
            if c == "vol_seq":
                xs = _elements(train[c])
            else:
                xs = train[c].dropna().to_numpy(dtype=float)
            mean = float(np.sum(np.round(xs, 6))) / len(xs)
            std = round(max(float(np.std(xs)), 1e-12), 6)
            if c == "vol_seq":
                part[c] = [None if _missing(v) else [(x - mean) / std for x in v]
                           for v in part[c]]
            else:
                part[c] = (part[c] - mean) / std
        folds.append(part)
    out = pd.concat(folds, ignore_index=True)
    return out, retained + TARGETS


def _mismatches(got, exp, tol=1e-6):
    """Rows where two aligned columns differ: missing on one side only, or
    apart by more than `tol` relative (absolute below 1). Sequence columns
    compare element by element."""
    gm, em = ~_present(got), ~_present(exp)
    bad = gm != em
    both = ~gm & ~em
    if both.any() and isinstance(next(v for v, b in zip(got, both) if b),
                                 (list, np.ndarray)):
        for i in np.flatnonzero(both):
            a, b = np.asarray(got[i], dtype=float), np.asarray(exp[i], dtype=float)
            if a.shape != b.shape or \
                    (np.abs(a - b) > tol * np.maximum(1.0, np.abs(b))).any():
                bad[i] = True
        return int(bad.sum())
    a = np.where(both, pd.to_numeric(got, errors="coerce"), 0.0).astype(float)
    b = np.where(both, pd.to_numeric(exp, errors="coerce"), 0.0).astype(float)
    bad |= np.abs(a - b) > tol * np.maximum(1.0, np.abs(b))
    return int(bad.sum())


def check_series(inputs, res):
    got = duckdb.connect().execute(
        "SELECT * EXCLUDE (sample_time), epoch_us(sample_time) AS t_us "
        "FROM read_parquet($p)", {"p": _parquet(res["outputs"]["dataset"])}).df()
    out = series_checks(got, os.path.join(inputs, "series.parquet"))
    if "streamed" in res["outputs"]:
        out += check_incremental(inputs, res)
    return out


def series_checks(got, input_path):
    exp, columns = series_expected(input_path)
    out = []
    keys = ["fold", "t_us", "entity_id"]
    got_cols = [c for c in got.columns if c not in ("fold", "role", "t_us", "entity_id")]
    out.append(_check("series.columns", got_cols == columns,
                      f"served {got_cols}, expected {columns}"))
    g = got.sort_values(keys).reset_index(drop=True)
    e = exp.sort_values(keys).reset_index(drop=True)
    same_rows = len(g) == len(e) and all((g[k].to_numpy() == e[k].to_numpy()).all()
                                         for k in keys) and \
        (g.role.to_numpy() == e.role.to_numpy()).all()
    out.append(_check("series.twin_rows", same_rows,
                      f"{len(g)} served rows, {len(e)} from the DuckDB twin"))
    bad = []
    if same_rows:
        for c in columns:
            if c in g.columns:
                mism = _mismatches(g[c].to_numpy(dtype=object),
                                   e[c].to_numpy(dtype=object))
                if mism:
                    bad.append(f"{c}: {mism} rows differ")
    out.append(_check("series.twin_values", same_rows and not bad and
                      got_cols == columns, "; ".join(bad)))
    # split properties, on the served output alone
    samples = got.drop_duplicates(["t_us", "entity_id"])
    part_bad = []
    for fold, rows in got.groupby("fold"):
        if len(rows) != len(samples) or \
                len(rows.drop_duplicates(["t_us", "entity_id"])) != len(rows):
            part_bad.append(fold)
    out.append(_check("series.folds_partition",
                      not part_bad and set(got.fold) == set(FOLDS),
                      f"folds not partitioning the samples: {part_bad}"))
    mom_bad = []
    for fold, rows in got[got.role == "train"].groupby("fold"):
        for c in [s for s in SCALED if s in got.columns]:
            if c == "vol_seq":
                xs = _elements(rows[c])
            else:
                xs = rows[c].dropna().to_numpy(dtype=float)
            if abs(xs.mean()) > 1e-6 or abs(xs.std() - 1.0) > 1e-6:
                mom_bad.append(f"{fold}/{c}: mean {xs.mean():.3g} std {xs.std():.9f}")
    out.append(_check("series.scaled_train_moments", not mom_bad, "; ".join(mom_bad)))
    off_grid = int((got.t_us % CADENCE_US != 0).sum())
    out.append(_check("series.cadence_grid", off_grid == 0,
                      f"{off_grid} sample times off the 1h grid"))
    return out


# ------------------------------------------------------------------ corpus

def _truth(inputs, key="docs"):
    with open(os.path.join(inputs, "truth.json")) as f:
        return {int(k): v for k, v in json.load(f)[key].items()}


def check_corpus(inputs, res):
    chunks = duckdb.connect().execute(
        "SELECT doc_id, chunk_id, n_tokens FROM read_parquet($p)",
        {"p": _parquet(res["outputs"]["dataset"])}).fetchall()
    return corpus_checks(chunks, _truth(inputs))


def corpus_checks(chunks, truth):
    survivors = sorted({c[0] for c in chunks})
    out = []
    groups = [truth[d]["group"] for d in survivors]
    out.append(_check("corpus.exact_digest_unique", len(groups) == len(set(groups)),
                      f"{len(groups) - len(set(groups))} survivors share a text"))
    # a planted cluster is its base document, its near variants and exact
    # copies of either; it must come out as exactly one document
    cluster_of = {}
    for d, t in truth.items():
        if "cluster" in t:
            cluster_of[d] = t["cluster"]
    for d, t in truth.items():
        if t["kind"] == "exact" and t["copy_of"] in cluster_of:
            cluster_of[d] = cluster_of[t["copy_of"]]
    per_cluster = {}
    for d in survivors:
        if d in cluster_of:
            per_cluster[cluster_of[d]] = per_cluster.get(cluster_of[d], 0) + 1
    clusters = set(cluster_of.values())
    merged = sum(1 for c in clusters if per_cluster.get(c, 0) == 1)
    recall = merged / max(1, len(clusters))
    lost = sum(1 for c in clusters if per_cluster.get(c, 0) == 0)
    out.append(_check("corpus.near_dup_recall", merged == len(clusters),
                      f"{merged}/{len(clusters)} planted clusters merged to one "
                      f"document (recall {recall:.4f}), {lost} lost"))
    # distinct documents: each text group outside any cluster keeps exactly
    # its smallest id
    group_ids = {}
    for d, t in truth.items():
        if t["kind"] in ("unique", "exact") and d not in cluster_of:
            group_ids.setdefault(t["group"], []).append(d)
    alive = set(survivors)
    wrong = [g for g, ids in group_ids.items()
             if [d for d in ids if d in alive] != [min(ids)]]
    out.append(_check("corpus.distinct_never_merged", not wrong,
                      f"{len(wrong)} of {len(group_ids)} distinct documents "
                      "missing or kept under another id"))
    contaminated = [d for d in survivors if truth[d]["kind"] == "contaminated"]
    out.append(_check("corpus.contamination_removed", not contaminated,
                      f"{len(contaminated)} contaminated documents served"))
    gated = [d for d in survivors if truth[d]["kind"] in ("foreign", "boilerplate")]
    out.append(_check("corpus.quality_gates", not gated,
                      f"{len(gated)} foreign or boilerplate documents served"))
    by_doc = {}
    for d, i, n in chunks:
        by_doc.setdefault(d, []).append((i, n))
    malformed = [d for d, cs in by_doc.items()
                 if sorted(i for i, _ in cs) != list(range(len(cs))) or
                 any(n < 1 or n > 64 for _, n in cs)]
    out.append(_check("corpus.chunks_well_formed", not malformed,
                      f"{len(malformed)} documents with malformed chunks"))
    return out


# ------------------------------------------------------------- incremental

def check_incremental(inputs, res):
    o = res["outputs"]
    con = duckdb.connect()
    streamed = con.execute("SELECT doc_id, sha256(html) FROM read_parquet($p)",
                           {"p": _parquet(o["streamed"])}).fetchall()
    batch = con.execute("SELECT sha256(html) FROM read_parquet($p)",
                        {"p": _parquet(o["batch"])}).fetchall()
    with open(os.path.join(o["index"], "meta.json")) as f:
        gens = json.load(f)["gens"]
    with open(os.path.join(inputs, "truth.json")) as f:
        n_deltas = len(json.load(f)["deltas"])
    return incremental_checks(streamed, [b[0] for b in batch], res["checks"],
                              len(gens), n_deltas, _truth(inputs, "delta_docs"))


def incremental_checks(streamed, batch_digests, jvm, n_gens, n_deltas, truth):
    out = []
    sd = [s[1] for s in streamed]
    same = sorted(sd) == sorted(batch_digests)
    out.append(_check("incremental.stream_equals_batch", same,
                      f"{len(sd)} streamed texts, {len(batch_digests)} from the batch "
                      f"journey, {len(set(sd) ^ set(batch_digests))} differ"))
    hit = jvm["refresh_live"] and jvm["refresh_jobs_max"] == 0 and jvm["refresh_calls"] > 0
    out.append(_check("incremental.refresh_cache_hit", hit,
                      f"{jvm['refresh_calls']} refreshes, live run kept: "
                      f"{jvm['refresh_live']}, most Spark jobs in one: "
                      f"{jvm['refresh_jobs_max']}"))
    ids = [s[0] for s in streamed]
    groups = [truth[d]["group"] for d in ids]
    unexpected = [d for d in ids if truth[d]["kind"] in
                  ("foreign", "boilerplate", "contaminated")]
    expected = {t["group"] for t in truth.values()
                if t["kind"] in ("unique", "near", "exact")}
    recall = len(set(groups) & expected) / max(1, len(expected))
    ok = len(groups) == len(set(groups)) and not unexpected and recall >= STREAM_RECALL
    out.append(_check("incremental.stream_ground_truth", ok,
                      f"{len(groups) - len(set(groups))} repeated texts, "
                      f"{len(unexpected)} gated documents streamed, "
                      f"recall {recall:.4f}"))
    out.append(_check("incremental.index_generations", n_gens == n_deltas,
                      f"{n_gens} generations for {n_deltas} deltas"))
    return out


CHECKERS = {"series_dataset": check_series, "corpus_curation": check_corpus}


def run(workload, inputs, res):
    return CHECKERS[workload](inputs, res)
