"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The output-check test builds the harness and runs `run.py --selftest`
(about two minutes, plus the build on a fresh checkout).
"""

import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchstats as bs  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(bs.tail_percentile(list(range(19))))
        self.assertEqual(bs.tail_percentile(list(range(1, 21))), (50.0, 10))

    def test_highest_qualifying_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(bs.tail_percentile(xs), (90.0, 90))
        # 99 samples: p90 has only 9 beyond it, so the median is the tail
        self.assertEqual(bs.tail_percentile(list(range(1, 100)))[0], 50.0)
        self.assertEqual(bs.tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_order_insensitive(self):
        xs = list(range(1, 101))
        self.assertEqual(bs.tail_percentile(xs[::-1]), bs.tail_percentile(xs))


class SelfTimes(unittest.TestCase):
    def test_prefix_minus_parent_median(self):
        prefixes = [
            {"name": "raw", "parent": "", "dur_s": 1.0, "rows": 100},
            {"name": "index", "parent": "raw", "dur_s": 3.0, "rows": 80},
            {"name": "raw", "parent": "", "dur_s": 2.0, "rows": 100},
            {"name": "index", "parent": "raw", "dur_s": 4.0, "rows": 80},
            {"name": "raw", "parent": "", "dur_s": 9.0, "rows": 100},
            {"name": "index", "parent": "raw", "dur_s": 5.0, "rows": 80},
        ]
        self_s, rows = bs.self_times(prefixes)
        self.assertAlmostEqual(self_s["raw"], 2.0)          # root: its median
        self.assertAlmostEqual(self_s["index"], 4.0 - 2.0)  # median - parent median
        self.assertEqual(rows, {"raw": 100, "index": 80})


class Ratios(unittest.TestCase):
    def test_ratio_base(self):
        self.assertEqual(bs.ratio(3, 4), 0.75)
        self.assertEqual(bs.ratio(0, 0), 0.0)  # bypassed layer: empty base

    def test_items_per_s_is_summed_items_over_summed_wall(self):
        calls = [{"items": 100, "wall_s": 1.0, "ok": True},
                 {"items": 100, "wall_s": 3.0, "ok": True},
                 {"items": 100, "wall_s": 0.1, "ok": False}]
        # 200 items / 4 s, not the mean of the per-call rates (66.7)
        self.assertAlmostEqual(bs.items_per_s(calls), 50.0)

    def test_outcome_counts_calls_and_checks(self):
        raw = {"calls": [{"ok": True}, {"ok": False}],
               "checks": [{"ok": True}, {"ok": True}, {"ok": False}]}
        self.assertEqual(bs.outcome(raw), (5, 2))


def span(i, parent, name, start, end, **attrs):
    return {"id": i, "parent": parent, "name": name, "start_ms": start,
            "end_ms": end, "attrs": attrs}


class EndToEnd(unittest.TestCase):
    def test_definitions(self):
        raw = {
            "setup": {"session_s": 4.0, "gen_s": [3.0, 1.0, 2.0], "warmup_s": 5.0},
            "calls": [{"cycle": 0, "dump": 0, "items": 10, "wall_s": 2.0, "ok": True},
                      {"cycle": 0, "dump": 1, "items": 10, "wall_s": 1.0, "ok": True},
                      {"cycle": 0, "dump": 2, "items": 10, "wall_s": 3.0, "ok": True}],
            "cycles": [{"items": 30, "table_bytes": 600}],
            "checks": [],
        }
        m = bs.end_to_end(raw)
        self.assertAlmostEqual(m["setup_s"]["value"], 4.0 + 2.0 + 5.0)
        self.assertAlmostEqual(m["cold_batch_s"]["value"], 2.0)
        self.assertAlmostEqual(m["warm_batch_s"]["value"], 2.0)
        self.assertEqual(m["warm_batch_s"]["n"], 2)
        self.assertAlmostEqual(m["items_per_s"]["value"], 5.0)
        self.assertAlmostEqual(m["table_bytes_per_item"]["value"], 20.0)


class PerLayer(unittest.TestCase):
    def trace(self, spans, calls, values=None):
        return {"trace": {"spans": spans, "calls": calls, "values": values or {},
                          "cores": 4, "untraced_cycle_s": 9.0, "traced_cycle_s": 10.0},
                "peak_mem": {"call_heap_bytes": [2 ** 20, 9 * 2 ** 20, 2 ** 19],
                             "offheap_bytes": 2 ** 21, "direct_bytes": 0}}

    def test_frontier_call_residual(self):
        spans = [
            span(0, -1, "cycle", 0, 10000),
            span(1, 0, "call:dump-0", 0, 10000),
            span(2, 1, "action:pin", 1000, 3000),
            span(3, 1, "action:batches_write", 3000, 6000),
            span(4, 1, "action:cuckoo_update", 7000, 9000),
        ]
        calls = [{"span": 1, "actions": 3, "exchanges": 2, "task_skew": 1.5,
                  "counters": {"executor_run_ms": 20000.0}}]
        m = bs.per_layer(self.trace(spans, calls))
        self.assertAlmostEqual(m["frontierjob.pin_s"], 2.0)
        self.assertAlmostEqual(m["frontierjob.batches_write_s"], 3.0)
        self.assertAlmostEqual(m["frontierjob.commit_s"], 1.0)   # after the last action
        # wall 10 - actions 7 - commit 1
        self.assertAlmostEqual(m["job.driver_s"], 2.0)
        self.assertAlmostEqual(m["spark.busy_ratio"], 20.0 / (10.0 * 4))
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        # median of the per-call heap peaks + off-heap + direct peaks
        self.assertAlmostEqual(m["jvm.peak_mem_mb"], 1.0 + 2.0)
        self.assertEqual(m["corpusjob.dedup_keep_ratio"], 0.0)   # bypassed

    def test_corpus_stages_and_keep_ratios(self):
        spans = [
            span(0, -1, "cycle", 0, 5000),
            span(1, 0, "call:dump-0", 0, 5000),
            span(2, 1, "stage:filter", 0, 1000, rows_in=100, rows_out=90),
            span(3, 1, "stage:dedup", 1000, 3000, rows_in=90, rows_out=60),
            span(4, 1, "action:pin", 500, 1500),
        ]
        calls = [{"span": 1, "actions": 1, "exchanges": 0, "task_skew": 1.0,
                  "counters": {}}]
        m = bs.per_layer(self.trace(spans, calls, {
            "frequent.paragraphs_in": 10, "frequent.paragraphs_out": 8}))
        self.assertAlmostEqual(m["corpusjob.filter_s"], 1.0)
        self.assertAlmostEqual(m["corpusjob.dedup_keep_ratio"], 60 / 90)
        self.assertAlmostEqual(m["corpusjob.filter_keep_ratio"], 0.9)
        self.assertEqual(m["frontierjob.pin_s"], 0.0)  # corpus pins are not frontier phases
        self.assertAlmostEqual(m["job.driver_s"], 4.0)
        self.assertAlmostEqual(m["frequent.paragraph_keep_ratio"], 0.8)


class DigestAcrossRuns(unittest.TestCase):
    def test_first_run_records_later_runs_compare(self):
        import run
        with tempfile.TemporaryDirectory() as tmp:
            old = os.environ.get("CARGO_TARGET_DIR")
            os.environ["CARGO_TARGET_DIR"] = tmp
            try:
                first = run.digest_check("w", 1, {"n": 1}, {"dump0": "3:7"})
                same = run.digest_check("w", 1, {"n": 1}, {"dump0": "3:7"})
                wrong = run.digest_check("w", 1, {"n": 1}, {"dump0": "3:8"})
                other_seed = run.digest_check("w", 2, {"n": 1}, {"dump0": "3:8"})
            finally:
                if old is None:
                    del os.environ["CARGO_TARGET_DIR"]
                else:
                    os.environ["CARGO_TARGET_DIR"] = old
        self.assertEqual([c["ok"] for c in first + same + wrong + other_seed],
                         [True, True, False, True])
        self.assertEqual(run.digest_check("w", 1, {}, {}), [])  # no digests


class PlantedWrongOutput(unittest.TestCase):
    def test_selftest_catches_planted_faults(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
