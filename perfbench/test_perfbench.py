"""The benchmark's own tests: the generator is deterministic, every checker
rejects a deliberately corrupted output, and the printed result carries
every metric BENCHMARK.json names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _bench_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


class Tmp(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


class GeneratorTest(Tmp):
    def test_same_seed_gives_identical_files(self):
        for w in gen.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, w, x) for x in "abc")
            self.assertEqual(gen.generate(w, 5, a), gen.generate(w, 5, b))
            for name in sorted(os.listdir(a)):
                with open(os.path.join(a, name), "rb") as fa, \
                        open(os.path.join(b, name), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), name)
            self.assertNotEqual(gen.generate(w, 6, c), gen.generate(w, 5, a))

    def test_planted_near_duplicates_are_close(self):
        gen.generate("corpus_curation", 5, self.tmp)
        truth = check._truth(self.tmp)
        sims = [t["jaccard"] for t in truth.values() if "jaccard" in t]
        self.assertTrue(sims)
        self.assertGreaterEqual(min(sims), 0.9)


class SeriesCheckerTest(Tmp):
    """The DuckDB twin's own output passes; each corruption fails."""

    def setUp(self):
        super().setUp()
        keys, rows = gen.SERIES_KEYS, gen.SERIES_ROWS
        gen.SERIES_KEYS, gen.SERIES_ROWS = 12, 3000
        try:
            gen.generate("series_dataset", 3, self.tmp)
        finally:
            gen.SERIES_KEYS, gen.SERIES_ROWS = keys, rows
        self.input = os.path.join(self.tmp, "series.parquet")
        exp, columns = check.series_expected(self.input)
        self.served = exp[["fold", "role", "t_us", "entity_id"] + columns]

    def failed(self, got):
        return {c["name"] for c in check.series_checks(got, self.input) if not c["ok"]}

    def test_twin_output_passes(self):
        self.assertEqual(self.failed(self.served.copy()), set())

    def test_one_row_dropped(self):
        got = self.served.drop(index=self.served.index[7])
        self.assertIn("series.twin_rows", self.failed(got))
        self.assertIn("series.folds_partition", self.failed(got))

    def test_one_scaled_value_perturbed(self):
        got = self.served.copy()
        i = got.index[(got.role == "train") & got.value_ff.notna()][0]
        got.loc[i, "value_ff"] += 0.01
        failed = self.failed(got)
        self.assertIn("series.twin_values", failed)
        self.assertIn("series.scaled_train_moments", failed)

    def test_time_off_the_cadence_grid(self):
        got = self.served.copy()
        got.loc[got.index[0], "t_us"] += 1
        self.assertIn("series.cadence_grid", self.failed(got))


def _served_corpus(truth):
    """What a correct corpus journey serves: one chunk per kept document."""
    keep = {}
    for d, t in sorted(truth.items()):
        if t["kind"] in ("foreign", "boilerplate", "contaminated"):
            continue
        cluster = t.get("cluster")
        if t["kind"] == "exact":
            cluster = truth[t["copy_of"]].get("cluster")
        key = ("cluster", cluster) if cluster is not None else ("text", t["group"])
        keep.setdefault(key, d)
    return [(d, 0, 10) for d in sorted(keep.values())]


class CorpusCheckerTest(Tmp):
    def setUp(self):
        super().setUp()
        gen.generate("corpus_curation", 4, self.tmp)
        self.truth = check._truth(self.tmp)
        self.chunks = _served_corpus(self.truth)

    def failed(self, chunks):
        return {c["name"] for c in check.corpus_checks(chunks, self.truth) if not c["ok"]}

    def test_correct_output_passes(self):
        self.assertEqual(self.failed(self.chunks), set())

    def test_one_near_duplicate_left_unmerged(self):
        kept = {c[0] for c in self.chunks}
        extra = next(d for d, t in sorted(self.truth.items())
                     if t["kind"] == "near" and d not in kept)
        self.assertIn("corpus.near_dup_recall",
                      self.failed(self.chunks + [(extra, 0, 10)]))

    def test_one_distinct_document_dropped(self):
        d = next(d for d, *_ in self.chunks
                 if self.truth[d]["kind"] == "unique" and "cluster" not in self.truth[d])
        self.assertIn("corpus.distinct_never_merged",
                      self.failed([c for c in self.chunks if c[0] != d]))

    def test_exact_copy_and_contaminated_served(self):
        kept = {c[0] for c in self.chunks}
        kept_groups = {self.truth[d]["group"] for d in kept}
        copy = next(d for d, t in sorted(self.truth.items())
                    if d not in kept and t["group"] in kept_groups)
        bad = next(d for d, t in self.truth.items() if t["kind"] == "contaminated")
        failed = self.failed(self.chunks + [(copy, 0, 10), (bad, 0, 10)])
        self.assertIn("corpus.exact_digest_unique", failed)
        self.assertIn("corpus.contamination_removed", failed)


class IncrementalCheckerTest(Tmp):
    def setUp(self):
        super().setUp()
        gen.generate("series_dataset", 4, self.tmp)
        self.truth = check._truth(self.tmp, "delta_docs")
        first = {}
        for d, t in sorted(self.truth.items()):
            if t["kind"] in ("unique", "near", "exact"):
                first.setdefault(t["group"], d)
        self.streamed = [(d, g) for g, d in first.items()]
        self.jvm = {"refresh_calls": 4, "refresh_jobs_max": 0, "refresh_live": True}

    def failed(self, streamed, batch, jvm):
        return {c["name"] for c in check.incremental_checks(
            streamed, batch, jvm, 4, 4, self.truth) if not c["ok"]}

    def test_correct_output_passes(self):
        batch = [g for _, g in self.streamed]
        self.assertEqual(self.failed(self.streamed, batch, self.jvm), set())

    def test_one_row_dropped_and_refresh_ran_jobs(self):
        batch = [g for _, g in self.streamed]
        failed = self.failed(self.streamed[1:], batch,
                             dict(self.jvm, refresh_jobs_max=2))
        self.assertIn("incremental.stream_equals_batch", failed)
        self.assertIn("incremental.refresh_cache_hit", failed)


class OutputTest(unittest.TestCase):
    """The result line parses and names every metric BENCHMARK.json lists."""

    def test_result_lines_carry_every_metric(self):
        bench = _bench_json()
        with open(os.path.join(HERE, "src", "main", "scala", "graft", "perfbench",
                               "Main.scala")) as f:
            src = f.read()
        names = re.findall(r'"([a-z]+\.[a-z_]+)"',
                           src[src.index("object Layers"):src.index("object Io")])
        res = {"master": "local[4]", "max_heap_mb": 3072, "session_s": 6.0,
               "journey_walls": [9.0, 8.0], "journey_jobs": [20, 20],
               "end_to_end": {m["name"]: 1.5 for m in bench["end_to_end"]},
               "per_layer": {n: 1.0 for n in names}}
        checks = [{"name": "x", "ok": True, "detail": ""}]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            a = argparse.Namespace(workload="series_dataset", seed=1, trace=trace)
            _, result = run.summarize(a, "sha", res, checks)
            line = json.loads(json.dumps(result))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(line["attempted"], 3)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(got, want)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in _bench_json()["workloads"]],
                         list(gen.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
