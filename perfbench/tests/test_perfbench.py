"""Self-checks of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

The fast tests check the seeded plans and the metric names against
BENCHMARK.json. `TracedRunTest` runs one short traced run of the cheapest
workload (it builds the program on first use, so allow a few minutes) and
checks the trace's invariants: phases account for every query's wall and
every job the listener saw in the traced passes is attributed to a phase.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import compare  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((BENCH / "workloads.json").read_text())
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


class PlanTest(unittest.TestCase):
    def test_seeds_permute_the_same_query_set(self):
        for name, wl in SPEC["workloads"].items():
            a = run.plan_for(wl["queries"], name, 1, 4)
            b = run.plan_for(wl["queries"], name, 2, 4)
            for plan in (a, b):
                for order in [plan["warmup"], *plan["passes"]]:
                    self.assertEqual(sorted(order), sorted(wl["queries"]))
            self.assertNotEqual(a["passes"], b["passes"], name)
            self.assertEqual(a, run.plan_for(wl["queries"], name, 1, 4))

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(sorted(SPEC["workloads"]),
                         sorted(w["name"] for w in BENCHMARK["workloads"]))


class CompareTest(unittest.TestCase):
    metric = {"name": "latency_p50_s", "unit": "s", "better": "lower", "bound": 0.1}

    def test_verdicts(self):
        parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.02]
        faster = [x * 0.8 for x in parent]
        slower = [x * 1.2 for x in parent]
        noisy = [0.6, 1.4, 0.7, 1.3, 1.0, 0.8, 1.2, 0.9, 1.1, 1.0]
        self.assertEqual(compare.verdict(self.metric, parent, faster)["verdict"], "better")
        self.assertEqual(compare.verdict(self.metric, parent, slower)["verdict"], "worse")
        self.assertEqual(compare.verdict(self.metric, parent, noisy)["verdict"], "unresolved")
        self.assertEqual(compare.verdict(self.metric, parent, parent)["verdict"], "same")
        self.assertEqual(compare.verdict(self.metric, parent, faster)["win_share"], 1.0)


    def test_invalid_pairs(self):
        def row(side, pair, correct=True, failed=0, ref=0.25):
            return {"workload": "w", "pair": pair, "side": side, "correct": correct,
                    "failed": failed, "attempted": 10, "reference_s": ref,
                    "metrics": {m["name"]: {"value": 1.0} for m in BENCHMARK["end_to_end"]}}
        ok = [row(s, i) for i in range(3) for s in ("parent", "change")]
        self.assertEqual({r["verdict"] for r in compare.report(ok, BENCHMARK)}, {"same"})
        wrong = ok[:-1] + [row("change", 2, correct=False)]
        self.assertEqual({r["verdict"] for r in compare.report(wrong, BENCHMARK)}, {"invalid"})
        more = ok[:-1] + [row("change", 2, failed=1)]
        self.assertEqual({r["verdict"] for r in compare.report(more, BENCHMARK)}, {"invalid"})
        slow_ref = [row("parent", i) for i in range(3)] + \
            [row("change", i, ref=0.3) for i in range(3)]
        self.assertEqual({r["verdict"] for r in compare.report(slow_ref, BENCHMARK)},
                         {"invalid"})


class EndToEndTest(unittest.TestCase):
    """end_to_end on a hand-made trace: two timed passes of two queries."""

    def trace(self, ok_b=True):
        lines, sid = [], iter(range(1, 100))

        def span(kind, name, parent, s, **attrs):
            i = next(sid)
            lines.append({"kind": "span", "id": i, "parent": parent, "type": kind,
                          "name": name, "start_ms": i, "end_ms": i, "s": s, **attrs})
            return i
        run_id = span("run", "run", 0, 10.0)
        span("reference", "reference-0", run_id, 9.0)    # warm-up, not used
        for p in (1, 2):
            pid = span("pass", f"timed-{p}", run_id, 2.0, **{"pass": "timed"})
            span("reference", f"reference-{p}", run_id, 0.5)
            span("query", "a", pid, 0.5, ok=True)
            span("reference", f"reference-{p}", run_id, 0.5)
            span("query", "b", pid, 0.1, ok=ok_b)
        span("reference", "reference-3", run_id, 0.5)
        return metrics.Trace(lines)

    def test_scaled_by_the_reference_runs_around_each_query(self):
        trace = self.trace()
        refs = [s for s in trace.of_type("reference") if s["name"] == "reference-2"]
        refs[-1]["s"] = 1.5     # the host slowed between the two queries of pass 2
        m, raw = metrics.end_to_end(trace, 7.0, {})
        k = metrics.REFERENCE_S
        # pass 2's b sits between references of 1.5 s and 0.5 s.
        self.assertAlmostEqual(m["throughput_qps"],
                               4 / (k * (0.5 / 0.5 + 0.1 / 0.5 + 0.5 / 1.0 + 0.1 / 1.0)))

    def test_normalized_to_reference(self):
        m, raw = metrics.end_to_end(self.trace(), 7.0, {})
        k = metrics.REFERENCE_S / 0.5
        self.assertAlmostEqual(raw["reference_s"], 0.5)
        self.assertAlmostEqual(raw["throughput_qps"], 4 / 1.2)
        self.assertAlmostEqual(m["throughput_qps"], 4 / (1.2 * k))
        self.assertAlmostEqual(m["latency_p50_s"], 0.3 * k)
        self.assertEqual(m["setup_s"], 7.0)

    def test_latency_counts_answered_queries_only(self):
        for m, _ in (metrics.end_to_end(self.trace(ok_b=False), 7.0, {}),
                     metrics.end_to_end(self.trace(), 7.0, {"b": "wrong"})):
            k = metrics.REFERENCE_S / 0.5
            self.assertAlmostEqual(m["latency_p50_s"], 0.5 * k)
            self.assertAlmostEqual(m["throughput_qps"], 2 / (1.2 * k))


class TracedRunTest(unittest.TestCase):
    """One traced and one untraced run of the smallest workload."""

    @classmethod
    def setUpClass(cls):
        cls.wl = min(SPEC["workloads"], key=lambda w: len(SPEC["workloads"][w]["queries"]))
        cls.out = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", cls.wl,
                 "--seed", "7", "--seconds", "4", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=1200)
            cls.out[trace] = (proc.returncode, proc.stdout.splitlines())

    def result(self, trace):
        rc, lines = self.out[trace]
        self.assertEqual(rc, 0, lines[-5:])
        return json.loads(lines[-1])

    def test_metric_names_match_benchmark_json(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = self.result(trace)
            self.assertTrue(res["correct"])
            self.assertEqual(set(res["metrics"]), {m["name"] for m in BENCHMARK[key]})
            for m in BENCHMARK[key]:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_phases_and_jobs_add_up(self):
        self.result(1)
        line = next(l for l in self.out[1][1] if l.startswith("# checks "))
        checks = json.loads(line[len("# checks "):])
        self.assertLess(checks["phase_gap"], 0.05)
        self.assertGreater(checks["jobs_total"], 0)
        self.assertEqual(checks["jobs_attributed"], checks["jobs_total"])


if __name__ == "__main__":
    unittest.main()
