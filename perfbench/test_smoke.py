"""Self-test: every workload of run.py once at a tiny size (including
spatial_census, which BENCHMARK.json does not list), plus one traced run;
each must exit 0 and print every metric of BENCHMARK.json with its unit.

    python3 perfbench/test_smoke.py        (or: python3 -m pytest perfbench/test_smoke.py)

Takes a few minutes: the census does not shrink with --scale.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.02"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stdout[-3000:]}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, out: dict, wanted: list[dict]) -> None:
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_prints_every_end_to_end_metric(self):
        sys.path.insert(0, HERE)
        from run import WORKLOADS

        spec = _spec()
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(WORKLOADS))
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(_run(w, 0), spec["end_to_end"])

    def test_traced_run_prints_every_per_layer_metric(self):
        spec = _spec()
        self.check(_run(spec["workloads"][0]["name"], 1), spec["per_layer"])


if __name__ == "__main__":
    unittest.main()
