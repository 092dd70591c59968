"""The benchmark's own tests. Run from the repository root:

    python3 medbench/test_bench.py

Each workload runs twice, traced, at a tiny input scale with one seed: the
count metrics must repeat exactly and every output must pass its check.
A different seed must change the generated input.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SCALE = "0.005"
COUNTS = {
    "medallion_refresh": [
        "exec.jobs", "exec.stages", "exec.tasks",
        "tables.scans", "tables.scan_bytes", "tables.scan_rows",
        "engine.rows_written", "engine.files_written", "engine.source_scans"],
    "silver_stream": [
        "exec.jobs", "exec.stages", "exec.tasks",
        "tables.scans", "tables.scan_bytes", "tables.scan_rows",
        "stream.state_rows", "stream.triggers_per_batch",
        "stream.rows_dropped_by_watermark", "stream.rows_out"],
}


def run(workload, seed, trace=1):
    r = subprocess.run(
        [sys.executable, "medbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", SCALE], capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().split("\n")
    return json.loads(lines[-1]), json.loads(lines[-2])["diagnostic"]


class CountsRepeat(unittest.TestCase):
    def check(self, workload):
        (a, da), (b, db) = run(workload, 5), run(workload, 5)
        for res in (a, b):
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
        self.assertEqual(da["input_sha256"], db["input_sha256"])
        for name in COUNTS[workload]:
            self.assertEqual(a["metrics"][name]["value"], b["metrics"][name]["value"], name)
        return da

    def test_medallion_refresh(self):
        d = self.check("medallion_refresh")
        self.assertGreater(d["workload_info"]["datasets"], 0)

    def test_silver_stream(self):
        d = self.check("silver_stream")
        _, other = run("silver_stream", 6, trace=0)
        self.assertNotEqual(d["input_sha256"], other["input_sha256"])


class SeedChangesInput(unittest.TestCase):
    def test_generated_tables(self):
        os.makedirs(".bench_build", exist_ok=True)
        with tempfile.TemporaryDirectory(dir=".bench_build") as t:
            _, a = gen.generate(os.path.join(t, "a"), 1, float(SCALE))
            _, a2 = gen.generate(os.path.join(t, "a2"), 1, float(SCALE))
            _, b = gen.generate(os.path.join(t, "b"), 2, float(SCALE))
        self.assertEqual(a, a2)
        self.assertNotEqual(a, b)


if __name__ == "__main__":
    unittest.main()
