"""Tests of the benchmark's own code: generators, checkers, metric names.

Run from the repository root:  python3 -m unittest perfbench/test_perfbench.py
(needs no JVM; the engine is not built).
"""
import copy
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SPEC = gen.load_spec()
FILES = SPEC["fixture"]["files_per_table"]


def tree_hash(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _dir(self, name):
        return os.path.join(self.tmp, name)

    def test_relayout_same_seed_same_bytes_other_seed_differs(self):
        for name, seed in [("a", 5), ("b", 5), ("c", 6)]:
            os.makedirs(self._dir(name))
            gen.relayout_fixture(self._dir(name), seed, FILES)
        self.assertEqual(tree_hash(self._dir("a")), tree_hash(self._dir("b")))
        self.assertNotEqual(tree_hash(self._dir("a")), tree_hash(self._dir("c")))

    def test_relayout_keeps_rows_and_column_types(self):
        import pyarrow.parquet as pq
        os.makedirs(self._dir("a"))
        sizes = gen.relayout_fixture(self._dir("a"), 11, FILES)
        for t in gen.TABLES:
            base = pq.read_table(os.path.join(gen.BASE_FIXTURE, f"{t}.parquet"))
            moved = pq.read_table(os.path.join(self._dir("a"), f"{t}.parquet"))
            self.assertEqual(base.schema.types, moved.schema.types, t)
            self.assertEqual(sizes[t]["rows"], base.num_rows)
            key = base.column_names[0]
            self.assertEqual(sorted(base.column(key).to_pylist(), key=str),
                             sorted(moved.column(key).to_pylist(), key=str), t)

    def test_prisma_fixture_deterministic(self):
        spec = SPEC["alert_etl"]
        a = json.dumps(gen.prisma_fixture(3, spec), sort_keys=True)
        self.assertEqual(a, json.dumps(gen.prisma_fixture(3, spec), sort_keys=True))
        self.assertNotEqual(a, json.dumps(gen.prisma_fixture(4, spec), sort_keys=True))
        script, truth = gen.prisma_fixture(3, spec)
        self.assertEqual(truth["alerts"], spec["alerts"])
        self.assertTrue(all(len(p["items"]) <= spec["page_size"]
                            for chain in script["pages"].values() for p in chain))

    def test_heaps_corpus_same_seed_same_bytes_other_seed_differs(self):
        spec = SPEC["stream_dedup"]
        for name, seed in [("a", 5), ("b", 5), ("c", 6)]:
            gen.heaps_corpus(self._dir(name), seed, 3, spec)
        self.assertEqual(tree_hash(self._dir("a")), tree_hash(self._dir("b")))
        self.assertNotEqual(tree_hash(self._dir("a")), tree_hash(self._dir("c")))

    def test_heaps_corpus_files_are_ordered_batches_with_planted_duplicates(self):
        import pyarrow.parquet as pq
        spec = SPEC["stream_dedup"]
        sizes = gen.heaps_corpus(self._dir("a"), 9, 4, spec)
        files = sorted(os.listdir(self._dir("a")))
        self.assertEqual(sizes["files"], 4)
        paths = [os.path.join(self._dir("a"), f) for f in files]
        self.assertEqual(paths, sorted(paths, key=os.path.getmtime))
        texts = []
        for p in paths:
            t = pq.read_table(p)
            self.assertEqual(t.schema, gen.DOC_SCHEMA)
            self.assertEqual(t.num_rows, spec["docs_per_batch"])
            texts += t.column("text").to_pylist()
        # a planted near-duplicate is an earlier document plus one word
        earlier = set()
        dups = 0
        for text in texts:
            dups += text.rsplit(" ", 1)[0] in earlier
            earlier.add(text)
        self.assertGreater(dups, 0)


class Checkers(unittest.TestCase):
    def test_row_digest_is_order_insensitive_and_catches_a_changed_cell(self):
        rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1e-7)]
        d = check.digest(["k", "s", "x"], rows)
        self.assertEqual(d, check.digest(["k", "s", "x"], list(reversed(rows))))
        self.assertEqual(d, check.digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows]))
        changed = check.digest(["k", "s", "x"], [(1, "a", 0.5), (2, "b", None), (3, "c", 2e-7)])
        self.assertNotEqual(d, changed)
        oracle = {"q": d}
        self.assertEqual(check.check_queries({"q": d}, {}, oracle), {})
        self.assertIn("q", check.check_queries({"q": changed}, {}, oracle))

    def test_no_oracle_query_must_digest_the_same_twice(self):
        a = check.digest(["k"], [(1,), (2,)])
        b = check.digest(["k"], [(1,), (3,)])
        self.assertEqual(check.check_queries({"q": a}, {"q": a}, {}), {})
        self.assertIn("q", check.check_queries({"q": a}, {"q": b}, {}))
        self.assertIn("q", check.check_queries({"q": a}, {}, {}))

    def test_numbers_render_like_the_jvm(self):
        self.assertEqual(check.cell(3.0), "3")
        self.assertEqual(check.cell(-0.0), "0")
        self.assertEqual(check.cell(0.1), "0.1")
        self.assertEqual(check.cell(1234567890123.0), "1234567890000")
        self.assertEqual(check.cell(float("nan")), "NaN")

    def _published(self, truth, root):
        folder = os.path.join(root, truth["folder"])
        os.makedirs(folder)
        for name, f in truth["files"].items():
            with open(os.path.join(folder, name), "w") as fh:
                fh.write("\n".join([f["header"]] + f["rows"]) + "\n")
        open(os.path.join(root, "_SUCCESS"), "w").close()

    def test_report_checker_rejects_a_flipped_cell(self):
        _, truth = gen.prisma_fixture(2, SPEC["alert_etl"])
        root = tempfile.mkdtemp()
        try:
            self._published(truth, root)
            self.assertEqual(check.check_report_tree(check.read_tree(root), truth), [])
            path = os.path.join(root, truth["folder"], "Alert_Report.csv")
            with open(path) as fh:
                lines = fh.read().splitlines()
            cells = lines[1].split(",")
            col = truth["files"]["Alert_Report.csv"]["header"].split(",").index(
                '"Failed Resource Count"')
            cells[col] = str(int(cells[col]) + 1)
            lines[1] = ",".join(cells)
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            self.assertNotEqual(check.check_report_tree(check.read_tree(root), truth), [])
        finally:
            shutil.rmtree(root)

    def test_report_checker_rejects_a_missing_success_marker(self):
        _, truth = gen.prisma_fixture(2, SPEC["alert_etl"])
        root = tempfile.mkdtemp()
        try:
            self._published(truth, root)
            os.remove(os.path.join(root, "_SUCCESS"))
            self.assertNotEqual(check.check_report_tree(check.read_tree(root), truth), [])
        finally:
            shutil.rmtree(root)


    def _stream(self, pairs):
        return {"pairs": pairs, "expected_pairs": [[1, 5, 0.75], [2, 9, 0.5], [3, 4, 1.0]],
                "progress": [{"batch": b} for b in range(9)], "watermark": 7}

    def test_stream_checker_rejects_a_dropped_or_repeated_pair(self):
        truth = {"batches": 9, "compact_every": 4}
        want = [[3, 4, 1.0], [1, 5, 0.75], [2, 9, 0.5]]
        self.assertEqual(check.check_stream(self._stream(want), truth), [])
        self.assertNotEqual(check.check_stream(self._stream(want[1:]), truth), [])
        self.assertNotEqual(check.check_stream(self._stream(want + want[:1]), truth), [])
        self.assertNotEqual(check.check_stream(self._stream(want[:2] + [[2, 9, 0.25]]),
                                               truth), [])

    def test_stream_checker_holds_the_compaction_cadence(self):
        fin = self._stream([[1, 5, 0.75], [2, 9, 0.5], [3, 4, 1.0]])
        self.assertEqual(check.check_stream(fin, {"batches": 9, "compact_every": 4}), [])
        fin["watermark"] = 3
        self.assertNotEqual(check.check_stream(fin, {"batches": 9, "compact_every": 4}), [])
        self.assertNotEqual(check.check_stream(fin, {"batches": 10, "compact_every": 4}), [])


class MetricNames(unittest.TestCase):
    def _bench(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            return json.load(fh)

    def test_benchmark_json_declares_every_metric_with_its_unit(self):
        b = self._bench()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(SPEC) - {"fixture"})

    def test_every_metric_is_computed(self):
        rec = {"ops": [{"name": "q", "s": 0.5, "ok": True, "items": 1, "rows": 1}],
               "session_s": 1.0, "warm_s": 2.0, "rss_hwm_kb": 2048,
               "cpus": 4, "warm_ops": 1, "finish": {"phases": [], "storage": []}}
        self.assertEqual(set(metrics.end_to_end(rec)), set(metrics.END_TO_END))
        fins = {"query_mix": {"phases": [], "storage": [], "packs": {}},
                "alert_etl": {"server_s": 0.1, "http_requests": 3, "http_retries": 0,
                              "http_bytes": 10, "out_bytes": 5, "out_files": 4},
                "stream_dedup": {"progress": [{"batch": 0, "triggerExecution": 500}],
                                 "compact_every": 4, "store_bytes": 10, "store_files": 2,
                                 "pairs_bytes": 5, "pairs": [[1, 2, 0.5]]}}
        self.assertEqual(set(fins), set(SPEC) - {"fixture"})
        for w, fin in fins.items():
            r = dict(rec, finish=fin, trace={"spans": [], "jobs": [], "tasks": []})
            self.assertEqual(set(metrics.per_layer(r, 0.1, w, 0.5, 0.0)),
                             set(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
