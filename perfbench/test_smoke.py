#!/usr/bin/env python3
"""Smoke test of the benchmark, from the root of a graft checkout:

    python3 perfbench/test_smoke.py

- two generations from one seed give byte-identical inputs;
- a tiny configuration (sf0.001, short phases) of every
  workload, untraced and traced, prints as its last line a bare JSON
  object with exactly the keys correct/attempted/failed/metrics that
  carries every BENCHMARK.json metric with its unit.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "smoke")


def parse_tail(stdout, window=2000):
    """What the benchmark's consumer does: keep a tail of stdout, take its
    last line, parse it as bare JSON. The line must fit in the tail."""
    tail = stdout[-window:]
    last = tail.rstrip("\n").split("\n")[-1]
    if len(last) >= len(tail.rstrip("\n")):
        raise ValueError("the last line does not fit in the captured tail")
    return json.loads(last)


class Determinism(unittest.TestCase):
    def generate(self, d, seed):
        os.makedirs(d)
        with open(os.path.join(HERE, "battery.json")) as f:
            timed = json.load(f)["timed"]
        gen.write_battery(d, seed, timed)
        gen.write_ingest(d, seed, 3000, 200, 10)

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(SCRATCH, x) for x in ("gen-a", "gen-b", "gen-c"))
        for d in (a, b, c):
            shutil.rmtree(d, ignore_errors=True)
        self.generate(a, 7)
        self.generate(b, 7)
        self.generate(c, 8)
        names = sorted(os.listdir(a))
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        self.assertIn("reads.sql", differ)
        self.assertIn("events.tsv", differ)


class TinyRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        os.makedirs(SCRATCH, exist_ok=True)
        cfg = {"data": "sf0.001", "backlog": 2000, "rate": 500, "probe": 3}
        cls.config = os.path.join(SCRATCH, "config.json")
        with open(cls.config, "w") as f:
            json.dump(cfg, f)

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "4", "--trace", str(trace),
             "--config", self.config],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = parse_tail(p.stdout)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stdout[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        want = self.bench["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        for m in want:
            got = out["metrics"][m["name"]]
            self.assertEqual(set(got), {"value", "unit"})
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float)
        return out

    def test_battery(self):
        self.run_bench("battery", 0)
        self.run_bench("battery", 1)

    def test_ingest(self):
        self.run_bench("ingest", 0)
        self.run_bench("ingest", 1)


if __name__ == "__main__":
    unittest.main()
