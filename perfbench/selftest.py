#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py          # arithmetic only, no JVM
    python3 perfbench/selftest.py --jvm    # plus the failure-injection runs

The arithmetic tests check metric names and units against BENCHMARK.json,
percentiles and their sample counts, failure accounting and span self
time on synthetic records. The JVM tests run the small `selftest` workload
(three cheap gates and one ReportRunner request per pass on the base
fixture) once clean and once with an injected throwing request and an
injected wrong fingerprint, and check that each injected failure raises
fail_ratio and adds no timing sample.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run      # noqa: E402


def req(pass_, name, ok=True, lat=1.0):
    return {"pass": pass_, "kind": "gate", "name": name, "params": "", "ok": ok,
            "error": None if ok else "boom", "build_s": 0.0, "action_s": lat, "latency_s": lat}


def span(id_, parent, kind, start, end, anchor=None, **attrs):
    return {"id": id_, "parent": parent, "kind": kind, "name": kind, "start": start,
            "end": end, "anchor": start if anchor is None else anchor, "attrs": attrs}


class NamesAndUnits(unittest.TestCase):
    def test_benchmark_json_matches_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_names_unique(self):
        names = [n for n, _ in metrics.PER_LAYER + metrics.END_TO_END]
        self.assertEqual(len(names), len(set(names)))


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 21))
        self.assertEqual(metrics.percentile(xs, 50), (10, 10))
        self.assertEqual(metrics.percentile(xs, 95), (19, 1))
        self.assertEqual(metrics.percentile([5.0], 95), (5.0, 0))

    def test_samples_beyond_p95(self):
        xs = [float(i) for i in range(200)]
        value, beyond = metrics.percentile(list(reversed(xs)), 95)
        self.assertEqual((value, beyond), (189.0, 10))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class Accounting(unittest.TestCase):
    def raw(self):
        return {
            "setup_s": 5.0,
            "requests": [req(0, "a", lat=3.0), req(0, "b", ok=False),
                         req(1, "a", lat=1.0), req(1, "b", ok=False),
                         req(2, "a", lat=2.0), req(2, "b", ok=False)],
            "passes": [{"pass": 0, "wall_s": 9.0, "live_heap_mb": 100.0},
                       {"pass": 1, "wall_s": 4.0, "live_heap_mb": 120.0},
                       {"pass": 2, "wall_s": 6.0, "live_heap_mb": 110.0}],
        }

    def test_failed_requests_add_no_sample(self):
        attempted, failed, samples = metrics.accounting(self.raw())
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(sorted(samples), [1.0, 2.0])  # cold pass and failures excluded

    def test_end_to_end(self):
        e2e, beyond = metrics.end_to_end(self.raw())
        self.assertEqual(e2e["cold_pass_s"], (9.0, "s", 1))
        self.assertEqual(e2e["warm_pass_s"], (5.0, "s", 2))
        self.assertEqual(e2e["p50_s"], (1.5, "s", 2))
        self.assertEqual(e2e["p95_s"], (2.0, "s", 2))
        self.assertEqual(e2e["live_heap_mb"], (110.0, "MB", 3))
        self.assertEqual(beyond, 0)

    def test_all_failed_is_an_error(self):
        raw = self.raw()
        raw["requests"] = [r for r in raw["requests"] if not r["ok"]]
        with self.assertRaises(ValueError):
            metrics.end_to_end(raw)


class SelfTime(unittest.TestCase):
    def test_nested_and_listener_spans(self):
        spans = [
            span(1, -1, "request", 0, 100, **{"pass": "1"}),
            span(2, 1, "queries.build", 10, 40),
            span(3, 1, "exec.action", 40, 95),
            # listener spans: attached by their anchor to exec.action
            span(4, -1, "spark.query", 45, 90, execution_id="7"),
            span(5, -1, "catalyst.planning", 41, 45),
            # jobs of the query's execution; overlapping children count once
            span(6, -1, "spark.job", 50, 80, anchor=50, execution_id="7"),
            span(7, -1, "spark.job", 60, 85, anchor=60, execution_id="7"),
        ]
        selfs, counts, roots = metrics.self_times(spans)
        self.assertAlmostEqual(selfs["request"] * 1e9, 100 - 30 - 55)
        self.assertAlmostEqual(selfs["queries.build"] * 1e9, 30)
        # exec.action [40,95] holds planning [41,45] and the query [45,90]
        self.assertAlmostEqual(selfs["exec.action"] * 1e9, 55 - 4 - 45)
        # query [45,90] holds two jobs covering [50,85]
        self.assertAlmostEqual(selfs["spark.query"] * 1e9, 45 - 35)
        self.assertEqual(counts["spark.job"], 2)
        self.assertEqual(roots[7]["id"], 1)

    def test_union(self):
        self.assertEqual(metrics._union_within(0, 10, [(2, 4), (3, 6), (8, 20)]), 6)
        self.assertEqual(metrics._union_within(0, 10, [(-5, -1)]), 0)


@unittest.skipUnless("--jvm" in sys.argv, "JVM tests need --jvm")
class FailureInjection(unittest.TestCase):
    def run_bench(self, seed, inject=""):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
               "--seed", str(seed), "--seconds", "4", "--trace", "0"]
        if inject:
            cmd += ["--inject", inject]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        with open(os.path.join(run.WORK, "runs", f"selftest-s{seed}-t0.raw.json")) as fh:
            raw = json.load(fh)
        return result, raw

    def test_injected_failures(self):
        clean, clean_raw = self.run_bench(11)
        self.assertTrue(clean["correct"])
        self.assertEqual(clean["failed"], 0)
        self.assertGreater(clean["metrics"]["p50_s"]["value"], 0)

        bad, raw = self.run_bench(11, "throw=q44_agg_fixpoint,wrongfp=q70_like_domain")
        passes = len(raw["passes"])
        self.assertFalse(bad["correct"])
        self.assertEqual(bad["failed"], 2 * passes)
        self.assertEqual(bad["attempted"], 4 * passes)
        self.assertGreater(bad["failed"] / bad["attempted"], clean["failed"] / clean["attempted"])
        failed_names = {r["name"] for r in raw["requests"] if not r["ok"]}
        self.assertEqual(failed_names, {"q44_agg_fixpoint", "q70_like_domain"})
        _, _, samples = metrics.accounting(raw)
        good_warm = [r for r in raw["requests"] if r["ok"] and r["pass"] >= 1]
        self.assertEqual(len(samples), len(good_warm))
        self.assertEqual(len(samples), 2 * (passes - 1))
        errors = {r["name"]: r["error"] for r in raw["requests"] if not r["ok"]}
        self.assertIn("injected failure", errors["q44_agg_fixpoint"])
        self.assertIn("fingerprint", errors["q70_like_domain"])


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--jvm"])
