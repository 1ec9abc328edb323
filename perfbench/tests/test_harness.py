"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build graft and run each workload briefly (a few minutes in
all); the other tests need no JVM.
"""
import copy
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402


class Arithmetic(unittest.TestCase):
    def test_percentiles_on_known_arrays(self):
        self.assertEqual(harness.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(harness.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(harness.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(harness.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(harness.percentile([7.5], 90), 7.5)

    def test_median(self):
        self.assertEqual(harness.median([3, 1, 2]), 2)
        self.assertEqual(harness.median([10, 2, 4, 8]), 6)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            dict(id=0, parent=-1, name="op", op=0, start_ns=0, end_ns=100),
            dict(id=1, parent=0, name="sources", op=0, start_ns=10, end_ns=30),
            dict(id=2, parent=0, name="pipeline.kmeans", op=0, start_ns=25, end_ns=60),
        ]
        self.assertEqual(harness.self_times(spans), {0: 50, 1: 20, 2: 35})


class Plans(unittest.TestCase):
    def plan(self, workload, seed):
        return harness.make_plan(workload, seed, 10, 0, "w")

    def test_same_seed_same_ops(self):
        for w in harness.WORKLOADS:
            self.assertEqual(self.plan(w, 5), self.plan(w, 5), w)

    def test_other_seed_other_ops(self):
        a, b = self.plan("lake", 5), self.plan("lake", 6)
        self.assertNotEqual(a["history"], b["history"])
        self.assertNotEqual([r["lookup"] for r in a["rounds"]], [r["lookup"] for r in b["rounds"]])
        self.assertNotEqual(self.plan("cells", 5)["files"], self.plan("cells", 6)["files"])

    def test_sql_mix_ignores_the_seed(self):
        a, b = self.plan("sql_mix", 5), self.plan("sql_mix", 6)
        a.pop("seed"), b.pop("seed")
        self.assertEqual(a, b)

    def test_op_count_depends_on_seconds_only(self):
        self.assertEqual(len(harness.make_plan("lake", 1, 10, 0, "w")["rounds"]),
                         len(harness.make_plan("lake", 2, 10, 0, "w")["rounds"]))
        self.assertLess(len(harness.make_plan("cells", 1, 2, 0, "w")["files"]),
                        len(harness.make_plan("cells", 1, 10, 0, "w")["files"]))

    def test_lake_keys_are_distinct_and_lookups_were_inserted(self):
        p = self.plan("lake", 3)
        keys = [k for b in p["history"] for k in b] + \
            [k for r in p["warm_rounds"] + p["rounds"] for k in r["insert"]]
        self.assertEqual(len(keys), len(set(keys)))
        inserted = set(k for b in p["history"] for k in b)
        for r in p["warm_rounds"] + p["rounds"]:
            inserted.update(r["insert"])
            self.assertIn(r["lookup"], inserted)


def lake_result(plan):
    """The outputs a correct program gives for a lake plan."""
    warm_tot, timed_tot = harness._lake_expect(plan)

    def ops(rounds, totals):
        out = []
        for r, (n, mx) in zip(rounds, totals):
            out += [dict(kind="insert", out={}, ms=1.0, weight=1),
                    dict(kind="lookup", out=dict(key=r["lookup"], rows=[[r["lookup"], f"v{r['lookup']}"]]),
                         ms=1.0, weight=1),
                    dict(kind="agg", out=dict(count=n, max=mx), ms=1.0, weight=1)]
        return out
    commits = 1 + len(plan["history"]) + len(plan["warm_rounds"]) + len(plan["rounds"])
    return dict(warm=[o for _ in range(plan["setup_reps"]) for o in ops(plan["warm_rounds"], warm_tot)],
                ops=ops(plan["rounds"], timed_tot),
                end=dict(snapshots=commits, live_rows=timed_tot[-1][0]))


class Checks(unittest.TestCase):
    def test_lake_correct_outputs_pass(self):
        plan = harness.make_plan("lake", 4, 3, 0, "w")
        self.assertEqual(harness.check(plan, lake_result(plan))[1:], (0, []))

    def test_lake_planted_wrong_answers_fail(self):
        plan = harness.make_plan("lake", 4, 3, 0, "w")
        good = lake_result(plan)
        bad = copy.deepcopy(good)
        bad["ops"][1]["out"]["rows"] = [[1, "v1"]]        # lookup returns another row
        self.assertEqual(harness.check(plan, bad)[1], 1)
        bad = copy.deepcopy(good)
        bad["warm"][2]["out"]["count"] += 1               # count(*) off by one
        self.assertEqual(harness.check(plan, bad)[1], 1)
        bad = copy.deepcopy(good)
        bad["end"]["snapshots"] -= 1                      # a commit left no snapshot
        self.assertTrue(harness.check(plan, bad)[2])
        bad = copy.deepcopy(good)
        bad["ops"][0]["error"] = "IllegalStateException: boom"
        self.assertEqual(harness.check(plan, bad)[1], 1)

    def test_cells_planted_wrong_answer_fails(self):
        plan = harness.make_plan("cells", 4, 2, 0, "w")
        ref = {str(f): dict(kept=50, canny="{}", mask_pixels=7) for f in plan["warm_files"] + plan["files"]}
        def op(f):
            return dict(kind="cells", out=dict(file=f, kept=50, canny="{}", mask_pixels=7,
                                               kmeans_score=0.9))
        result = dict(warm=[op(f) for f in plan["warm_files"]], ops=[op(f) for f in plan["files"]],
                      end=dict(reference=ref))
        self.assertEqual(harness.check(plan, result)[1], 0)
        result["ops"][0]["out"]["kept"] = 51
        self.assertEqual(harness.check(plan, result)[1], 1)

    def test_sql_mix_planted_wrong_hash_fails(self):
        plan = harness.make_plan("sql_mix", 1, 10, 0, "w")
        want = {"q01_pricing_summary": dict(rows=6, hash="abc")}
        result = dict(warm=[dict(kind="q01_pricing_summary", out=dict(rows=6, hash="abc"))],
                      ops=[dict(kind="q01_pricing_summary", out=dict(rows=6))])
        self.assertEqual(harness.check(plan, result, want)[1], 0)
        result["warm"][0]["out"]["hash"] = "abd"
        self.assertEqual(harness.check(plan, result, want)[1], 1)
        result["ops"][0]["out"]["rows"] = 5
        self.assertEqual(harness.check(plan, result, want)[1], 2)

    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], [m for m, _ in harness.END_TO_END])
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, harness.per_layer_units())


class Smoke(unittest.TestCase):
    """One short run of each workload through the command the benchmark names."""

    def run_bench(self, workload, trace):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                              "--seed", "3", "--seconds", "1", "--trace", str(trace)],
                             cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_each_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for workload in harness.WORKLOADS:
            line = self.run_bench(workload, 0)
            self.assertTrue(line["correct"], line)
            self.assertEqual(line["failed"], 0)
            self.assertEqual(set(line["metrics"]), {m["name"] for m in bench["end_to_end"]})
            self.assertTrue(all(v["value"] > 0 for v in line["metrics"].values()), line)

    def test_traced_run(self):
        line = self.run_bench("lake", 1)
        self.assertTrue(line["correct"], line)
        self.assertGreater(line["metrics"]["catalog.commit_jobs"]["value"], 0)
        self.assertGreater(line["metrics"]["catalog.plan_optimize_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
