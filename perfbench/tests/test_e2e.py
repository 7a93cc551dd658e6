"""End-to-end smoke tests: they build the harness (the first run compiles
the program) and run the workloads at their small smoke-test sizes."""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pb import jvm  # noqa: E402
from pb.workloads import SIZES, WORKLOADS, DailyArrivals  # noqa: E402
from test_gen import scratch, tree  # noqa: E402


def bench():
    with open(os.path.join(jvm.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=jvm.ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()


class SmokeTest(unittest.TestCase):
    def check(self, lines, names):
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        record = json.loads(next(l for l in lines if l.startswith("record: "))[len("record: "):])
        self.assertEqual(sorted(record["host"]), ["cores", "git_sha", "heap_mb", "jdk", "nproc",
                                                  "source_sha256", "spark"])
        for k in ("rows", "bytes", "keys", "dates", "seed"):
            self.assertIn(k, record["inputs"])
        return result, record

    def test_split_traced(self):
        result, record = self.check(run("backfill_3d", 1), [m["name"] for m in bench()["per_layer"]])
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(m["ledger.entries"], 0)
        self.assertGreater(m["splitter.write_s"], 0)
        self.assertGreater(m["splitter.files_out"], 0)
        self.assertGreaterEqual(m["splitjob.gap_s"], 0)
        self.assertGreater(m["spark.tasks"], 0)
        self.assertTrue(record["traces"][0]["spans"])

    def test_ops_untraced(self):
        result, _ = self.check(run("ops_triad", 0), [m["name"] for m in bench()["end_to_end"]])
        self.assertTrue(all(v["value"] > 0 for v in result["metrics"].values()))


class ResetTest(unittest.TestCase):
    def test_daily_iteration_restores_the_pre_run_state(self):
        work = scratch()
        h = None
        try:
            cp, _ = jvm.classpath()
            h = jvm.Harness(cp, 2, False, work, os.path.join(work, "harness.log"))
            root = os.path.join(work, "daily")
            WORKLOADS["daily_1000"].generate(root, 1, SIZES["daily_1000"][1])
            before = tree(root)
            it = WORKLOADS["daily_1000"].iterate(h, root, work, 0, False)
            self.assertTrue(it.units and all(u.ok for u in it.units))
            self.assertGreater(it.files_out, 0)
            self.assertEqual(tree(root), before)
        finally:
            if h is not None:
                h.close()
            shutil.rmtree(work)

    def test_reset_removes_only_the_given_dates(self):
        root = scratch()
        try:
            for sub, names in (("in", ["a.parquet", "b.parquet", ".b.parquet.crc"]),
                               ("markers", ["a.json", "b.json", ".b.json.crc"]),
                               ("out/k1", ["a.parquet", "b.parquet", ".b.parquet.crc"]),
                               ("out/k2", ["b.parquet"])):
                os.makedirs(os.path.join(root, sub))
                for n in names:
                    open(os.path.join(root, sub, n), "w").close()
            DailyArrivals.reset(root, ["b"])
            self.assertEqual(sorted(tree(root)), ["in/", "in/a.parquet", "markers/",
                                                  "markers/a.json", "out/", "out/k1/",
                                                  "out/k1/a.parquet"])
        finally:
            shutil.rmtree(root)


if __name__ == "__main__":
    unittest.main()
