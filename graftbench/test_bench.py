"""The benchmark's own tests.

    python3 -m unittest discover -s graftbench -p 'test_*.py'

The smoke runs use tiny sf0.001-shaped inputs and one-second windows; the
first one builds the program if needed, so allow a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run as bench  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args, cwd=ROOT, env=None):
    p = subprocess.run([sys.executable, os.path.join(cwd, "graftbench", "run.py"), *args],
                       cwd=cwd, env=env, capture_output=True, text=True, timeout=1200)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p, (json.loads(last) if last.startswith("{") else None)


class SelfTimes(unittest.TestCase):
    def test_layers_partition_the_wall_time(self):
        req = dict(id=0, key="k", start_us=1_000_000, build_us=40_000, exec_us=100_000,
                   release_us=5_000, error=None)
        stage = dict(tasks=4, failed_tasks=0, empty_tasks=1, run_ms=120, cpu_ms=100,
                     task_wait_ms=3, scan_ms=30, scan_rows=10,
                     write_bytes=0, write_ms=6, read_bytes=0, fetch_wait_ms=6, spill_bytes=0)
        trace = dict(
            jobs=[dict(job=0, req="0", exec=None, checkpoint=True, start_ms=1010, end_ms=1030, ok=True),
                  dict(job=1, req="0", exec="7", checkpoint=False, start_ms=1060, end_ms=1120, ok=True)],
            stages=[dict(stage=0, attempt=0, job=0, start_ms=1012, end_ms=1028, **stage),
                    dict(stage=1, attempt=0, job=1, start_ms=1062, end_ms=1118, **stage)],
            plans=[dict(query=3, phase="planning", start_ms=1045, end_ms=1055)],
            scans=[dict(query=3, start_ms=1045, files_bytes=12345)],
            aqe_updates={"7": 2}, block_bytes={"0": 4096})
        ev = layers.by_request(trace, [req])[0]
        self_ms = layers.self_times(req, ev)
        self.assertAlmostEqual(sum(self_ms.values()), 145.0, places=6)
        self.assertAlmostEqual(self_ms["checkpoints"], 16.0 + 5.0)
        self.assertAlmostEqual(self_ms["plans"], 10.0)
        self.assertAlmostEqual(self_ms["sources"], 56.0 * 30 / 120)
        m = layers.per_layer(dict(gc_ms=0, jit_ms=0, heap_peak_mb=1.0), trace, [req])
        self.assertEqual(m["checkpoints.jobs"][0], 1)
        self.assertEqual(m["plans.aqe_updates"][0], 2)
        self.assertEqual(m["checkpoints.block_bytes"][0], 4096)
        self.assertEqual(m["sources.scan_bytes"][0], 12345)
        self.assertAlmostEqual(m["trace.self_sum_frac"][0], 1.0)


class Smoke(unittest.TestCase):
    def test_end_to_end_metrics_print_with_units(self):
        p, res = run("--workload", "olap_mix", "--seed", "1", "--seconds", "1", "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertIsNotNone(res)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertIn("error_rate", p.stdout)
        self.assertRegex(p.stdout, r"error_rate\s+0\.0000 frac")
        for m in SPEC["end_to_end"]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
            self.assertRegex(p.stdout, rf"{m['name']}\s+\S+ {m['unit']}")
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["end_to_end"]})

    def test_traced_run_prints_every_layer_metric(self):
        p, res = run("--workload", "curate_iterative", "--seed", "1", "--seconds", "1",
                     "--smoke", "--trace", "1")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        for m in SPEC["per_layer"]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        self.assertGreater(res["metrics"]["checkpoints.jobs"]["value"], 0)
        self.assertAlmostEqual(res["metrics"]["trace.self_sum_frac"]["value"], 1.0, delta=0.01)
        with open(os.path.join(bench.work_dir(), "runs", "curate_iterative", "spans.json")) as f:
            spans = json.load(f)
        roots = [s for s in spans if s["parent"] is None]
        self.assertEqual(len(roots), res["attempted"])

    def test_concurrent_clients_share_one_session(self):
        p, res = run("--workload", "olap_concurrent", "--seed", "1", "--seconds", "1", "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], len(bench.OLAP_KEYS) * 2)

    def test_a_result_wrong_only_when_repeated_fails_the_run(self):
        # the poisoned key is right on its first (cold) call only, so only
        # the check pass after the timed window can see the wrong result
        p, res = run("--workload", "olap_mix", "--seed", "1", "--seconds", "1", "--smoke",
                     "--poison", "q5_local_supplier")
        self.assertEqual(p.returncode, 1, p.stderr[-3000:])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("FAIL q5_local_supplier", p.stdout)


class CleanCheckout(unittest.TestCase):
    def test_without_program_source_fails_with_a_named_error(self):
        with tempfile.TemporaryDirectory(dir=bench.work_dir()) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
            p, res = run("--workload", "olap_mix", "--seed", "1", "--seconds", "1", cwd=d, env=env)
        self.assertEqual(p.returncode, 2)
        self.assertIsNone(res)
        self.assertIn("BenchError: program source missing", p.stderr)


if __name__ == "__main__":
    unittest.main()
