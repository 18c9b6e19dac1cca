"""Smoke runs of the whole benchmark command (builds on first use; a
few minutes in all). Each workload runs for one second over the base
tables with the fail probe appended, so failure accounting is checked
end to end: the probe is named, counted in `failed`, kept out of every
latency figure, and the workload still completes its other ops. The
traced runs of both workloads in BENCHMARK.json must produce a nonzero
value for each layer the workload runs.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

# Per-layer metrics each traced workload must report as nonzero.
LAYER_KEYS = {
    "lake_ingest": ["sources.open.n", "sources.create.n", "sources.rename.n", "sources.delete.n",
                    "sources.list.n", "sources.stat.n", "sources.init.n", "sources.bytes_written",
                    "plan.build_s", "exec.jobs", "exec.task_s", "operators.Snapshots.jobs",
                    "operators.IvfIndex.jobs", "ingest.merge.n", "ingest.delete.n", "ingest.append.n",
                    "ingest.readback.n", "ingest.write_amp", "jvm.heap_peak_mb", "trace.self_s.op"],
    "llm_stream": ["plan.build_s", "plan.analysis_s", "exec.jobs", "exec.tasks", "exec.shuffle_write_bytes",
                   "operators.TextIndex.jobs", "stream.batches", "stream.input_rows", "stream.trigger_s",
                   "stream.addBatch_s", "stream.batch_p50_s", "jvm.heap_peak_mb", "trace.self_s.exec"],
}


def load(path):
    with open(path) as f:
        return json.load(f)


def run(workload, out, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--out", out, *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p


class Smoke(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="smoke-", dir=os.path.join(HERE, "out"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def check(self, workload, trace):
        out = os.path.join(self.tmp, f"{workload}-{trace}")
        p = run(workload, out, "--trace", str(trace), "--fail-probe")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        spec = load(os.path.join(ROOT, "BENCHMARK.json"))
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(last["metrics"]), sorted(names))
        self.assertGreaterEqual(last["failed"], 1)
        self.assertFalse(last["correct"])
        self.assertIn("FAILED bench_fail_probe", p.stdout)
        summary = load(os.path.join(out, "summary.json"))
        failed = summary["failures"]
        self.assertTrue(failed and all(f["name"] == "bench_fail_probe" for f in failed), failed)
        results = load(os.path.join(out, "results.json"))
        timed = [r for r in results["ops"] if r["pass"] > 0]
        self.assertGreater(sum(1 for r in timed if r["ok"]), 0)
        self.assertEqual(summary["details"]["op_samples"], sum(1 for r in timed if r["ok"]))
        if not trace:
            self.assertTrue(all(m["value"] > 0 for m in last["metrics"].values()), last)
        for k in LAYER_KEYS.get(workload, []) if trace else []:
            self.assertGreater(last["metrics"][k]["value"], 0, k)

    def test_lake_sql(self):
        self.check("lake_sql", 0)

    def test_lake_ingest(self):
        self.check("lake_ingest", 0)

    def test_llm_stream(self):
        self.check("llm_stream", 0)

    def test_lake_ingest_traced(self):
        self.check("lake_ingest", 1)

    def test_llm_stream_traced(self):
        self.check("llm_stream", 1)

    def test_refuses_a_tree_without_the_engine(self):
        bare = os.path.join(self.tmp, "bare")
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("out", "target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lake_sql", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                           timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
