"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The smoke tests build the engine on first use and run every workload at
tiny sizes, untraced and traced, in one Spark session (about a minute).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import querydata  # noqa: E402


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class SmokeTest(unittest.TestCase):

    def smoke(self, *extra):
        p = run("--smoke", *extra)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_every_workload_correct_with_every_metric(self):
        res = self.smoke()
        b = spec()
        workloads = [w["name"] for w in b["workloads"]]
        self.assertEqual(sorted(res), sorted(f"{w}:{t}" for w in workloads
                                             for t in (0, 1)))
        for key, task in res.items():
            self.assertTrue(task["correct"], key)
            self.assertEqual(task["failed"], 0, key)
            self.assertGreaterEqual(task["attempted"], 1, key)
            wanted = b["per_layer" if key.endswith(":1") else "end_to_end"]
            self.assertEqual(set(task["metrics"]), {m["name"] for m in wanted})
        for w in ("daily_deep", "backfill"):
            m = res[f"{w}:1"]["metrics"]
            parts = sum(m[k] for k in ("ingest.self_s", "operators.self_s",
                                       "sources.self_s", "quality.self_s",
                                       "pipeline.other_s"))
            # one traced operation in smoke mode: the module self-times
            # and the root's own time add up to the traced wall time
            self.assertAlmostEqual(parts, m["trace.wall_s"], places=6)
            self.assertGreater(m["sources.self_s"], 0)
            self.assertGreater(m["exec.jobs"], 0)
            self.assertGreater(m["ingest.docs_in"], m["ingest.rows_out"])
            self.assertGreater(m["sources.files_written"], 0)
        q = res["query_mix:1"]["metrics"]
        self.assertGreater(q["queries.construct_s"], 0)
        self.assertGreater(q["queries.execute_s"], 0)
        for k in ("setup_s", "op_p50_s", "pass_s", "store_bytes_per_row"):
            for w in workloads:
                self.assertGreater(res[f"{w}:0"]["metrics"][k], 0, (w, k))

    def test_wrong_expectation_fails_every_workload(self):
        res = self.smoke("--wrong-expectation")
        for key, task in res.items():
            self.assertFalse(task["correct"], key)
            self.assertGreaterEqual(task["failed"], 1, key)


class BareDirectoryTest(unittest.TestCase):

    def test_refuses_without_engine_sources(self):
        bare = os.path.join(HERE, "work", "bare-test")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for f in ("run.py", "querydata.py", "compare.py"):
            shutil.copy(os.path.join(HERE, f), os.path.join(bare, "perfbench"))
        try:
            p = run("--workload", "daily_deep", "--seed", "1", "--seconds", "1",
                    "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


class QueryDataTest(unittest.TestCase):

    def test_same_seed_same_tables(self):
        a, b = querydata.tables(7, 0.02), querydata.tables(7, 0.02)
        c = querydata.tables(8, 0.02)
        self.assertEqual(sorted(a), sorted(querydata.TABLES))
        for name in querydata.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


class CompareTest(unittest.TestCase):

    def record(self, path, nproc, value):
        with open(path, "w") as fh:
            json.dump({"workload": "daily_deep", "trace": 0,
                       "metrics": {"op_p50_s": value},
                       "host": {"nproc": nproc, "jvm_max_heap_bytes": 1,
                                "jdk": "x", "spark": "y", "local_dir": "z"}},
                      fh)

    def test_refuses_cross_host(self):
        d = os.path.join(HERE, "work", "compare-test")
        os.makedirs(d, exist_ok=True)
        try:
            a, b, c = (os.path.join(d, f"{n}.json") for n in "abc")
            self.record(a, 4, 1.0)
            self.record(b, 4, 1.1)
            self.record(c, 16, 0.5)
            self.assertEqual(compare.main([a, b]), 0)
            self.assertEqual(compare.main([a, c]), 2)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
