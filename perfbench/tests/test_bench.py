"""Self-tests for the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _digest(root):
    """Hash of every generated file, with the root path taken out of the
    config files so two roots compare equal."""
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            path = os.path.join(d, n)
            with open(path, "rb") as f:
                data = f.read().replace(root.encode(), b"<root>")
            h.update(os.path.relpath(path, root).encode())
            h.update(data)
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.digests = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            root = os.path.join(cls.tmp.name, name)
            cls.digests[name] = _digest_after(root, seed)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_inputs(self):
        self.assertEqual(self.digests["a"], self.digests["b"])

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(self.digests["a"], self.digests["c"])

    def test_sizes_do_not_depend_on_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = gen.lake(1, os.path.join(t, "a")), gen.lake(2, os.path.join(t, "b"))
            for table in gen.TABLES:
                self.assertEqual(len(a["tables"][table]), len(b["tables"][table]))
            self.assertEqual([len(r["rows"]) for r in a["rounds"]],
                             [len(r["rows"]) for r in b["rounds"]])

    def test_planted_groups_are_disjoint_and_exact_copies_are_equal(self):
        with tempfile.TemporaryDirectory() as t:
            truth = gen.lake(3, t)
        text = {r["doc_id"]: r["text"] for r in truth["tables"]["docs"]}
        ids = [i for g in truth["exact_groups"] + truth["near_clusters"] for i in g]
        self.assertEqual(len(ids), len(set(ids)))
        for g in truth["exact_groups"]:
            self.assertEqual(len({text[i] for i in g}), 1)


def _digest_after(root, seed):
    gen.lake(seed, root)
    return _digest(root)


class StatsTest(unittest.TestCase):

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_reports_median_tail_count_and_spread(self):
        s = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        self.assertEqual(s["p90"], 90.0)
        self.assertAlmostEqual(s["spread"], 50.5 / 50.5)
        self.assertEqual(stats.summary([2.0, 4.0])["p50"], 3.0)
        self.assertNotIn("p75", stats.summary([2.0, 4.0]))
        self.assertEqual(stats.summary([5.0]), {"n": 1, "p50": 5.0})

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.4, 12.0, 9.9, 10.1, 10.7, 10.2, 9.8]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / statistics.median(xs))

    def test_union_length_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "name": "op", "layer": "bench", "start": 0, "end": 100, "parent": -1, "op": 0},
            {"id": 2, "name": "q", "layer": "query", "start": 10, "end": 90, "parent": 1, "op": 0},
            {"id": 3, "name": "job a", "layer": "spark", "start": 20, "end": 50, "parent": -1,
             "op": 0},
            {"id": 4, "name": "job b", "layer": "spark", "start": 40, "end": 60, "parent": -1,
             "op": 0},
        ]
        tree = stats.assign_parents(spans)
        self.assertEqual([s["parent"] for s in tree], [-1, 1, 2, 2])
        self.assertEqual(stats.self_times(tree), {"bench": 20, "query": 40, "spark": 50})

    def test_parent_is_the_innermost_holder_within_slack(self):
        spans = [
            {"id": 1, "name": "op", "layer": "bench", "start": 0, "end": 100, "parent": -1, "op": 0},
            {"id": 2, "name": "opt", "layer": "query", "start": 10, "end": 30, "parent": -1,
             "op": 0},
            {"id": 3, "name": "job", "layer": "spark", "start": 9.5, "end": 29.0, "parent": -1,
             "op": 0},
            {"id": 4, "name": "job", "layer": "spark", "start": 5, "end": 7, "parent": -1, "op": 1},
        ]
        tree = stats.assign_parents(spans)
        self.assertEqual([s["parent"] for s in tree], [-1, 1, 2, -1])

    def test_meta_decision_from_plan(self):
        self.assertEqual(stats.meta_decision(["LocalTableScanExec"]), "served")
        self.assertEqual(stats.meta_decision(
            ["HashAggregateExec", "UnionExec", "LocalTableScanExec", "HashAggregateExec",
             "FileSourceScanExec"]), "hybrid")
        self.assertEqual(stats.meta_decision(
            ["HashAggregateExec", "ShuffleExchangeExec", "HashAggregateExec",
             "FileSourceScanExec"]), "declined")
        self.assertEqual(stats.meta_decision(["ProjectExec", "RDDScanExec"]), "none")


class CheckerTest(unittest.TestCase):

    def test_write_round_changes_what_later_reads_expect(self):
        with tempfile.TemporaryDirectory() as t:
            w = workloads.lake_session(5, t)
        chk = workloads.Checker(w)
        before = len(chk.state["http_log"])
        write = next(op for op in w.ops if op["id"].startswith("write"))
        rnd = w.truth["rounds"][w.round_of[write["id"]]]
        errors = chk.op(write["id"], [{}] * len(write["steps"]))
        self.assertEqual(len(chk.state["http_log"]), before + len(rnd["rows"]))
        self.assertIsNone(errors[0])
        self.assertTrue(all(e for e in errors[1:]))

    def test_expected_csv_matches_the_renderer_format(self):
        rows = [{"ts": gen.T0, "bytes": 5}, {"ts": gen.T0 + 61, "bytes": 9}]
        self.assertEqual(workloads.q_total(rows),
                         "n,lo,hi\n2,2025-01-01 00:00:00,2025-01-01 00:01:01")
        self.assertEqual(workloads.q_bytes([]), "n,lo,hi\n0,,")


if __name__ == "__main__":
    unittest.main()
