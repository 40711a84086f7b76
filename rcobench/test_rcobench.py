"""The benchmark's own tests.

Run from the repository root:
  python3 -m unittest rcobench/test_rcobench.py

The generator tests take seconds. The workload tests run every workload
at a tiny size (RCOBENCH_TINY=1), traced and untraced, through the same
command the benchmark uses; a run's cost is mostly JVM start and the
cold pipeline pass, so they take a few minutes in all.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# the project's events test table (TESTDATA.md), column by column
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed, history=False):
        d = tempfile.mkdtemp()
        gen.main(workload, seed, d, history=history)
        return d

    def test_same_seed_same_bytes(self):
        for w in gen.SHAPES:
            a, b = self.generate(w, 7), self.generate(w, 7)
            self.assertEqual(files(a), files(b))
            match, mismatch, errors = filecmp.cmpfiles(
                a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_different_seeds_differ(self):
        for w in gen.SHAPES:
            a, b = self.generate(w, 7), self.generate(w, 8)
            self.assertFalse(filecmp.cmp(os.path.join(a, "events.parquet"),
                                         os.path.join(b, "events.parquet"),
                                         shallow=False), w)

    def test_events_schema_and_props(self):
        for w in gen.SHAPES:
            d = self.generate(w, 3)
            for f in files(d):
                if not f.endswith(".parquet"):
                    continue
                t = pq.read_table(os.path.join(d, f))
                self.assertTrue(t.schema.equals(EVENTS_SCHEMA), f)
                self.assertGreater(t.num_rows, 0, f)
                props = t.column("props").to_pylist()
                self.assertTrue(all(json.loads(p).keys() == {"k"}
                                    for p in props))
                ids = t.column("event_id").to_pylist()
                self.assertEqual(ids, list(range(len(ids))))

    def test_manifest_records_seed_and_shape(self):
        d = self.generate("site_hourly", 5)
        with open(os.path.join(d, "manifest.json")) as f:
            m = json.load(f)
        self.assertEqual((m["seed"], m["part"]), (5, "lookback"))
        self.assertEqual(m["store"], "preloaded")
        h = self.generate("site_hourly", 5, history=True)
        with open(os.path.join(h, "manifest.json")) as f:
            self.assertEqual(json.load(f)["seed"], gen.FIXTURE_SEED)


class WorkloadTest(unittest.TestCase):

    def run_bench(self, workload, trace):
        env = dict(os.environ, RCOBENCH_TINY="1")
        r = subprocess.run(
            [sys.executable, os.path.join("rcobench", "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace)],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_workload_emits_every_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in [x["name"] for x in bench["workloads"]]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    out = self.run_bench(w, trace)
                    self.assertEqual(set(out), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in bench[key]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in out["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)


if __name__ == "__main__":
    unittest.main()
