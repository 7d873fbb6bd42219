"""Self-tests of the benchmark harness's rules, on synthetic input.

    python3 perfbench/test_harness.py
"""
import json
import os
import tempfile
import unittest

import harness
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 24))  # 23 samples, shuffled order must not matter
        v, pct, n = harness.tail(reversed(xs))
        self.assertEqual((v, n), (13, 23))  # 10 samples (14..23) beyond it
        self.assertAlmostEqual(pct, 100 * 13 / 23)

    def test_large_sample_reaches_p99(self):
        v, pct, n = harness.tail(range(1000))
        self.assertEqual((v, pct, n), (989, 99.0, 1000))

    def test_too_few_samples_reports_max_at_p100(self):
        self.assertEqual(harness.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(harness.tail([]), (0.0, 0.0, 0))


class FreshnessTest(unittest.TestCase):
    def write_log(self, root, stage, batches, compact_at=None):
        d = os.path.join(root, f"_chk_{stage}", "sources", "0")
        os.makedirs(d)
        for b, paths in batches.items():
            name = f"{b}.compact" if b == compact_at else str(b)
            with open(os.path.join(d, name), "w") as f:
                f.write("v1\n")
                for p in paths:
                    f.write(json.dumps({"path": "file://" + p,
                                        "timestamp": 0, "batchId": b}) + "\n")

    def test_file_to_batch_to_commit(self):
        with tempfile.TemporaryDirectory() as root:
            # two ODS files: both in DWD batch 0, DIM reads them in batches
            # 0 and 1; DWD batch 0's page output is split over page batches
            # 0 and 1, its err output is one err batch
            self.write_log(root, "dwd", {0: ["/w/ods/a.parquet",
                                             "/w/ods/b.parquet"]})
            self.write_log(root, "dim", {0: ["/w/ods/a.parquet"],
                                         1: ["/w/ods/b.parquet"]},
                           compact_at=1)
            self.write_log(root, "dws_page", {
                0: ["/w/dwd/page/batch_0/part-0.parquet"],
                1: ["/w/dwd/page/batch_0/part-1.parquet"]})
            self.write_log(root, "dws_err", {
                0: ["/w/dwd/err/batch_0/part-0.parquet"]})
            logs = {s: harness.source_log(os.path.join(root, f"_chk_{s}"))
                    for s in ("dwd", "dim", "dws_page", "dws_err")}
        files = [{"file": "a.parquet", "due_s": 0.0, "released_s": 0.1},
                 {"file": "b.parquet", "due_s": 0.5, "released_s": 0.5},
                 {"file": "never.parquet", "due_s": 1.0, "released_s": 1.0}]
        commits = [
            {"stage": "dwd", "batch": 0, "start_s": 1.0, "end_s": 2.0},
            {"stage": "dim", "batch": 0, "start_s": 1.0, "end_s": 3.0},
            {"stage": "dim", "batch": 1, "start_s": 3.0, "end_s": 6.0},
            {"stage": "dws_page", "batch": 0, "start_s": 2.5, "end_s": 4.0},
            {"stage": "dws_page", "batch": 1, "start_s": 4.0, "end_s": 5.0},
            {"stage": "dws_err", "batch": 0, "start_s": 2.2, "end_s": 3.5}]
        fresh, queue, dws_wait = harness.freshness(files, commits, logs)
        # a: dim@3.0, page@4.0 and @5.0, err@3.5 -> 5.0 after due 0.0
        # b: dim@6.0 dominates -> 6.0 - 0.5; the unconsumed file is absent
        self.assertEqual(fresh, {"a.parquet": 5.0, "b.parquet": 5.5})
        self.assertEqual([round(x, 6) for x in sorted(queue)], [0.5, 0.9])
        # one wait per (DWD batch, DWS batch) pair
        self.assertEqual([round(x, 6) for x in sorted(dws_wait)],
                         [0.2, 0.5, 2.0])


class SpanTest(unittest.TestCase):
    def span(self, i, parent, start, end, thread="main"):
        return {"id": i, "name": f"s{i}", "parent": parent, "start": start,
                "end": end, "thread": thread}

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span(1, 0, 0.0, 10.0),
                 self.span(2, 1, 1.0, 4.0),
                 self.span(3, 1, 3.0, 5.0, "stream"),  # overlaps span 2
                 self.span(4, 2, 2.0, 3.0),
                 self.span(5, 1, 9.0, 12.0)]  # runs past its parent
        st = harness.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (4.0 + 1.0))  # [1,5] + [9,10]
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[5], 3.0)

    def test_top_level_driver_spans_against_wall(self):
        spans = [self.span(1, 0, 0.0, 4.0), self.span(2, 0, 4.0, 9.9),
                 self.span(3, 0, 1.0, 2.0, "stream"), self.span(4, 1, 0, 1)]
        c = harness.span_check(spans, 10.0)
        self.assertAlmostEqual(c["top_level_s"], 9.9)
        self.assertTrue(c["within"])
        self.assertFalse(harness.span_check(spans, 11.0)["within"])


class ValidityTest(unittest.TestCase):
    def sample(self, load1, busy=0, idle=0, steal=0):
        return {"load1": load1, "cpu": [busy, 0, 0, idle, 0, 0, 0, steal]}

    def test_quiet_run_is_valid(self):
        v = harness.validity(self.sample(3.5), self.sample(4.0, 800, 200, 5),
                             4, gen_late_max_s=0.01, tick_s=0.125)
        self.assertFalse(v["invalid"], v["reasons"])

    def test_each_contamination_signal_invalidates(self):
        quiet, busy = self.sample(1.0), self.sample(4.0, 500, 500)
        cases = [
            (quiet, self.sample(4.0, 500, 0, 200), {}),  # 200/700 stolen
            (self.sample(9.0), busy, {}),                 # loaded at start
            (quiet, self.sample(13.0, 500, 500), {}),     # loaded at end
            (quiet, busy, {"gen_late_max_s": 0.07, "tick_s": 0.125})]
        for start, end, gen in cases:
            v = harness.validity(start, end, 4, **gen)
            self.assertTrue(v["invalid"], (start, end, gen))
            self.assertEqual(len(v["reasons"]), 1)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_run_py_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
