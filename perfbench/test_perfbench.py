#!/usr/bin/env python3
"""The benchmark's own tests.

Fast checks of the metric arithmetic run on synthetic records; three
checks run the benchmark itself (about four minutes in all):
  - a planted throwing query is reported as failed and the exit code is
    non-zero, and every printed end-to-end metric matches BENCHMARK.json;
  - the shared-state guard flags q_dedup_ppjoin with q_dedup_cross_source,
    which replays q_dedup_ppjoin's driver memo;
  - a traced run prints every per-layer metric of BENCHMARK.json.

Usage: python3 perfbench/test_perfbench.py [-k fast]
"""
import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "7",
                        "--seconds", "1"] + list(args), cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=300)
    return r.returncode, r.stdout


def printed(out):
    """{name: unit} of the human-readable metric lines."""
    return dict(re.findall(r"^(\S+) = \S+ (\S+) \(samples=", out, re.M))


def assert_metrics(test, out, key):
    names = {m["name"]: m["unit"] for m in SPEC[key]}
    lines = printed(out)
    lines.pop("failed_frac", None)
    test.assertEqual(lines, names)
    last = json.loads(out.strip().splitlines()[-1])
    test.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
    test.assertEqual({k: v["unit"] for k, v in last["metrics"].items()}, names)


def record(jobs_by_pass, digests=None):
    orders = [["a", "b"], ["b", "a"], ["a", "b"]]
    execs = [{"pass": p, "query": q, "start_ns": 0, "end_ns": 1, "rows": 1,
              "digest": (digests or {}).get((p, q), "d"), "error": "", "jobs": jobs_by_pass[p][q]}
             for p in range(3) for q in "ab"]
    return {"passes": [{"index": p, "order": orders[p], "start_ns": 0, "end_ns": 2} for p in range(3)],
            "execs": execs, "probes": []}


class Fast(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond_with_a_floor(self):
        self.assertEqual(run.tail(list(range(101)), 101), (90, 90))
        self.assertEqual(run.tail(list(range(9)), 9), (6, 75))
        self.assertEqual(run.percentile([1, 2, 3, 4], 50), 2.5)

    def test_guard_flags_a_job_count_that_moves_with_order(self):
        rec = record([{"a": 3, "b": 5}, {"a": 3, "b": 2}, {"a": 3, "b": 5}])
        failed = run.check_run(rec, {}, traced=False)
        self.assertEqual(list(failed), [(1, "b")])
        self.assertIn("shared state: b ran 5 jobs in pass 0", failed[(1, "b")])

    def test_result_digest_change_is_a_failure(self):
        rec = record([{"a": 1, "b": 1}] * 3, digests={(2, "a"): "other"})
        self.assertIn("result differs", run.check_run(rec, {}, traced=False)[(2, "a")])

    def test_oracle_failure_is_charged_to_the_last_pass(self):
        rec = record([{"a": 1, "b": 1}] * 3)
        self.assertIn((2, "a"), run.check_run(rec, {"a": "rows 1 vs 2"}, traced=False))

    def test_job_placed_only_by_a_bench_frame_is_unattributed(self):
        def job(**frames):
            f = dict({"ops_file": "", "plans": False, "merge_table": False, "graft": False,
                      "bench": False}, **frames)
            return {"call_site": "collect at GraftBench.scala:107", "stream_id": "", "query": "q",
                    "frames": f}
        jobs = [job(bench=True), job(ops_file="Graph", graft=True), job(bench=True, plans=True),
                dict(job(bench=True), stream_id="s1")]
        run.attribute(jobs, {"q": "Relational"})
        self.assertEqual([j["attributed"] for j in jobs], [False, True, True, True])
        self.assertEqual([j["file"] for j in jobs], ["Relational", "Graph", "Relational", "Relational"])

    def test_job_union_counts_overlap_once(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)


class EndToEnd(unittest.TestCase):
    def test_planted_throw_fails_the_run(self):
        code, out = bench("--workload", "graph_bsp", "--mix", "q_rel_tpch_q6", "--plant-throw")
        self.assertNotEqual(code, 0, out)
        self.assertRegex(out, r"FAILED pass 0 perfbench_planted_throw threw "
                              r"java.lang.IllegalStateException: planted failure")
        last = json.loads(out.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertGreaterEqual(last["failed"], 3)
        assert_metrics(self, out, "end_to_end")

    def test_guard_catches_memo_replay_pair(self):
        code, out = bench("--workload", "dedup_stream", "--mix", "q_dedup_ppjoin,q_dedup_cross_source")
        self.assertNotEqual(code, 0, out)
        self.assertRegex(out, r"FAILED shared state: q_dedup_(ppjoin|cross_source) ran \d+ jobs")

    def test_traced_run_prints_every_per_layer_metric(self):
        code, out = bench("--workload", "graph_bsp", "--mix", "q_rel_tpch_q6", "--trace", "1")
        self.assertEqual(code, 0, out)
        assert_metrics(self, out, "per_layer")


if __name__ == "__main__":
    unittest.main()
