"""The benchmark's own tests: a tiny traced smoke of every workload, and a
negative test proving the correctness gate rejects a corrupted output.

    python3 -m unittest perfbench/test_perfbench.py

Each case launches perfbench/run.py as a user would (building first if
needed), on tiny inputs: scale 0.001 tables, 4 accounts, and the fewest
passes a traced run takes (untraced, traced, untraced).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"ta_pipeline": ["--accounts", "4"],
        "curation_iter": ["--scale", "0.001"]}


def bench(workload, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", "1", "--passes", "1"]
        + TINY[workload] + list(extra),
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    printed = {}
    for ln in lines:
        if ln.startswith("metric "):
            _, _, name, value, unit, n = ln.split(" ")
            printed[name] = (float(value), unit, int(n[2:]))
    return p.returncode, printed, json.loads(lines[-1]) if lines else None, p


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        cls.e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        cls.layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    def smoke(self, workload):
        rc, printed, result, p = bench(workload)
        self.assertEqual(rc, 0, p.stderr[-3000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        # every metric is printed with its declared unit and a sample
        # count; only a layer the workload does not touch has no samples
        for name, unit in {**self.e2e, **self.layers}.items():
            self.assertIn(name, printed, f"{workload}: {name} not printed")
            value, got_unit, n = printed[name]
            self.assertEqual(got_unit, unit, name)
            self.assertGreaterEqual(n, 1 if value else 0, name)
        self.assertEqual(printed["failed_frac"][0], 0.0)
        self.assertEqual(printed["wrong_frac"][0], 0.0)
        # the traced run's last line carries exactly the per-layer metrics
        self.assertEqual(set(result["metrics"]), set(self.layers))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], self.layers[name])
        return printed

    def test_ta_pipeline_smoke(self):
        printed = self.smoke("ta_pipeline")
        self.assertGreater(printed["jobs.ingest_jobs"][0], 0)
        self.assertGreater(printed["lake.files_written"][0], 0)
        for name in self.layers:
            if name.startswith("views."):
                self.assertGreaterEqual(printed[name][2], 1, name)

    def test_curation_iter_smoke(self):
        printed = self.smoke("curation_iter")
        self.assertGreater(printed["ops.cc_jobs"][0], 0)
        self.assertGreater(printed["streaming.batches"][0], 0)

    def test_gate_rejects_a_dropped_row(self):
        rc, printed, result, _ = bench("curation_iter",
                                       "--queries", "q84_ann_pq",
                                       "--corrupt", "q84_ann_pq")
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(printed["wrong_frac"][0], 0.0)


if __name__ == "__main__":
    unittest.main()
