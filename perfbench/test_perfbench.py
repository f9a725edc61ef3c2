#!/usr/bin/env python3
"""Tests of the benchmark harness itself.

    python3 perfbench/test_perfbench.py

The failing-op test runs cron_daily for a few seconds (it builds first
if needed); the others need no JVM.
"""
import json
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(*args, cwd=run.ROOT, script=HERE / "run.py"):
    return subprocess.run([sys.executable, str(script), *args], cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


class FailedOperation(unittest.TestCase):
    def test_failing_sink_is_counted_and_never_timed(self):
        p = bench("--workload", "cron_daily", "--seed", "1", "--seconds", "4", "--trace", "0",
                  "--fail-op", "1")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(out["failed"], 1)
        self.assertGreaterEqual(out["attempted"], 2)
        self.assertTrue(out["correct"])
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(list(out["metrics"]), [m["name"] for m in spec["end_to_end"]])
        self.assertIn(f"failed_frac = {1 / out['attempted']:.6g} ratio", p.stdout)
        res = json.loads((run.BUILD / "work" / "cron_daily" / "result.json").read_text())
        failed = [o for o in res["ops"] if not o["ok"]]
        self.assertEqual([o["id"] for o in failed], [1])
        self.assertTrue(failed[0]["error"])
        # the median comes from the successful days only
        ok = [o["wall_s"] for o in res["ops"] if o["ok"]]
        self.assertEqual(out["metrics"]["op_p50_s"]["value"], statistics.median(ok))


class Contract(unittest.TestCase):
    def test_refuses_to_run_without_the_program(self):
        d = run.BUILD / "bare"
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(HERE, d / "perfbench", ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(run.ROOT / "BENCHMARK.json", d)
        p = bench("--workload", "cron_daily", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=d, script=d / "perfbench" / "run.py")
        shutil.rmtree(d)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)

    def test_metrics_match_benchmark_json(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({w["name"] for w in spec["workloads"]} - set(run.WORKLOADS), set())
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(run.unit(m["name"]), m["unit"], m["name"])
        empty = {"ops": [], "spans": [], "jobs": [], "outputs": {}, "heap_peak_mb": 1.0}
        self.assertEqual(list(run.per_layer(empty, 4, [])), [m["name"] for m in spec["per_layer"]])


def job(i, span, start, end):
    return {"id": i, "span": span, "start": start, "end": end, "stages": 1, "tasks": 1,
            "failed_tasks": 0, "run_ms": 1, "shuffle_write": 0, "spill": 0, "records_read": 0,
            "bytes_read": 0, "records_written": 0}


class TraceCheck(unittest.TestCase):
    def res(self, query_end):
        return {"ops": [{"id": 0, "kind": "day", "detail": "d", "ok": True, "wall_s": 1.0,
                         "rows_in": 1, "files": 0, "bytes": 0}],
                "spans": [{"id": 0, "name": "op", "op": 0, "parent": -1, "start": 1000.0, "end": 2000.0},
                          {"id": 1, "name": "extract.query", "op": 0, "parent": 0,
                           "start": 1000.0, "end": query_end}],
                "jobs": [job(0, 1, 1100, 1200)]}

    def test_covered_op_passes(self):
        self.assertEqual(run.trace_errors(run.breakdown(self.res(1990.0))), [])

    def test_uncovered_wall_time_fails(self):
        errs = run.trace_errors(run.breakdown(self.res(1500.0)))
        self.assertEqual(len(errs), 1)
        self.assertIn("cover 50.0%", errs[0])

    def test_job_outside_every_span_fails(self):
        res = self.res(1990.0)
        res["jobs"].append(job(1, -1, 1300, 1400))
        errs = run.trace_errors(run.breakdown(res))
        self.assertEqual(errs, ["op 0: jobs [1] ran outside its spans"])


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(run.tail([1.0] * 10))
        self.assertEqual(run.tail([float(i) for i in range(11)]), (0.0, 9, 10))
        self.assertEqual(run.tail([float(i) for i in range(1, 101)]), (90.0, 90, 10))


if __name__ == "__main__":
    unittest.main()
