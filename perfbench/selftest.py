"""Self-tests of the benchmark's own logic. Run: python3 perfbench/selftest.py"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # three artifact writes overlapped the way Par.run runs them
        jobs = [(100, 400), (150, 300), (350, 500), (700, 800)]
        self.assertEqual(stats.union_length(jobs), 500)
        self.assertEqual(stats.driver_gap(0, 1000, jobs), 500)

    def test_jobs_clipped_to_op(self):
        self.assertEqual(stats.driver_gap(200, 600, [(100, 300), (250, 700)]), 0)
        self.assertEqual(stats.driver_gap(0, 10, []), 10)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)


class MedianPercentile(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_percentile(19))
        self.assertEqual(stats.highest_percentile(20), 50.0)
        self.assertEqual(stats.highest_percentile(99), 50.0)
        self.assertEqual(stats.highest_percentile(100), 90.0)
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertEqual(stats.highest_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99.9), 100)
        s = stats.summary(xs)
        self.assertEqual((s["n"], s["p90"]), (100, 90))
        self.assertNotIn("p50", stats.summary([1.0] * 19))


class WrongAnswers(unittest.TestCase):
    truth = {"low": {"output": {'"a"': 3, '"lines_read"': 2}, "invalid": 1}}

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.tmp = tmp.name

    def mr_dir(self, lines):
        d = tempfile.mkdtemp(dir=self.tmp)
        with open(os.path.join(d, "part-00000"), "w") as f:
            f.write("".join(l + "\n" for l in lines))
        return d

    def test_mr_right_answer_passes(self):
        out = check.read_mr_output(self.mr_dir(['"a"\t3', '"lines_read"\t2']))
        self.assertIsNone(check.check_mr("mr_low", out, {"example,invalid line": 1}, self.truth))

    def test_mr_dropped_key_fails(self):
        out = check.read_mr_output(self.mr_dir(['"a"\t3']))
        self.assertIn("1 missing", check.check_mr("mr_low", out, {"example,invalid line": 1}, self.truth))

    def test_mr_counter_must_match_planted(self):
        out = check.read_mr_output(self.mr_dir(['"a"\t3', '"lines_read"\t2']))
        self.assertIn("counter", check.check_mr("mr_low", out, {}, self.truth))

    def test_extra_kept_doc_fails(self):
        self.assertIsNone(check.check_kept([1, 4, 9], [9, 1, 4]))
        self.assertIn("1 extra", check.check_kept([1, 4, 7, 9], [1, 4, 9]))
        self.assertEqual(check.check_kept([1, 4], None), "missing answer")

    def test_wrong_answer_makes_fail_rate_nonzero(self):
        d = self.tmp
        ref_dir = os.path.join(d, "refs")
        os.makedirs(ref_dir)
        with open(os.path.join(ref_dir, "ref-text-e1-d0.txt"), "w") as f:
            f.write("1\n4\n9\n")
        answer = os.path.join(d, "answer.txt")
        with open(answer, "w") as f:
            f.write("1\n4\n7\n9\n")  # one extra kept doc
        ops = [{"id": 0, "kind": "append_text", "phase": "measure", "ok": True},
               {"id": 1, "kind": "read_text", "phase": "measure", "ok": True,
                "family": "text", "state": "e1-d0", "answer": answer}]
        res = {"ops": ops, "ref_dir": ref_dir}
        bad = run.check_ops("index_lifecycle", res, d)
        attempted, failed = run.tally(res, bad)
        self.assertEqual([o["id"] for o in failed], [1])
        self.assertGreater(len(failed) / len(attempted), 0)
        with open(answer, "w") as f:
            f.write("1\n4\n9\n")
        self.assertEqual(run.check_ops("index_lifecycle", res, d), {})


class Declared(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_reported(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        import layers
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         layers.names(run.KINDS))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END.items()))


if __name__ == "__main__":
    unittest.main()
