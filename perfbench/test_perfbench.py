"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end test builds graft and runs the smallest workload twice
(about two minutes on a 4-core box); the others need no JVM.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

RUNS = os.path.join(REPO, ".perfbench_runs")


def scratch_dir():
    os.makedirs(RUNS, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=RUNS)


class PlantedWrongOutputTest(unittest.TestCase):
    """The checker must reject an output that breaks a planted fact."""

    def setUp(self):
        self.root = scratch_dir()
        self.db = duckdb.connect()

    def tearDown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def _run(self, sink, **kw):
        r = {"id": "t", "pipeline": kw.pop("pipeline", "p"), "status": "SUCCESS",
             "error": "", "sink_path": sink, "quarantine_path": "", "loaded": -1,
             "quarantined": 0}
        r.update(kw)
        return r

    def test_etl_dropped_row_and_wrong_quarantine(self):
        data = os.path.join(self.root, "data")
        facts = gen.generate("etl_enrich", data, 5)
        checker = check.Checker("etl_enrich", data, facts)
        sink = os.path.join(self.root, "out")
        os.makedirs(sink)
        # the correct rows minus one, as the program would lay them out
        checker.db.execute(f"""COPY (SELECT * FROM expected LIMIT {checker.expected_rows - 1})
                               TO '{sink}' (FORMAT parquet, PARTITION_BY (ship_month))""")
        planted = facts["null_rows"] + facts["dup_extras"]
        problems = checker.check(self._run(sink, quarantined=planted))
        self.assertTrue(any("rows written" in p for p in problems), problems)
        self.assertTrue(any("missing rows" in p for p in problems), problems)
        self.assertTrue(any("quarantine holds 0 rows" in p for p in problems), problems)

    def test_curate_kept_violator_and_duplicate(self):
        data = os.path.join(self.root, "data")
        facts = gen.generate("curate_docs", data, 5)
        checker = check.Checker("curate_docs", data, facts)
        fam = facts["families"][0]
        kept = sorted(set(facts["expected_survivors"]) | {facts["violators"][0], max(fam)})
        sink = os.path.join(self.root, "out")
        os.makedirs(sink)
        self.db.execute(f"""COPY (SELECT unnest({kept}) AS doc_id, 0 AS seq_id,
                                         0 AS tok_start, 10 AS tok_end)
                           TO '{sink}/part-0.parquet' (FORMAT parquet)""")
        problems = checker.check(self._run(sink))
        self.assertTrue(any("rule violators kept" in p for p in problems), problems)
        self.assertTrue(any("duplicate family" in p for p in problems), problems)
        self.assertTrue(any("longer than seqLen" in p for p in problems), problems)

    def test_failed_status_is_a_problem(self):
        data = os.path.join(self.root, "data")
        checker = check.Checker("many_small", data, gen.generate("many_small", data, 5))
        problems = checker.check(self._run("", status="FAILED", error="boom"))
        self.assertEqual(problems, ["status FAILED: boom"])


class TailTest(unittest.TestCase):
    def test_upper_quartile_until_ten_samples_lie_beyond(self):
        self.assertEqual(run.tail(list(range(1, 14))), (10.5, "p75(n=13)"))
        self.assertEqual(run.tail(list(range(1, 61))), (50, "p83.3(n=60)"))

    def test_one_stray_pause_does_not_set_the_tail(self):
        self.assertEqual(run.tail([1.0] * 12 + [9.0])[0], 1.0)


class RunRootTest(unittest.TestCase):
    def test_root_removed_when_a_jvm_fails(self):
        before = set(os.listdir(RUNS)) if os.path.isdir(RUNS) else set()
        with mock.patch.object(run.build, "build", return_value="cp"), \
                mock.patch.object(run, "run_jvm", side_effect=RuntimeError("jvm died")):
            with self.assertRaises(RuntimeError):
                run.main(["--workload", "many_small", "--seed", "3", "--trace", "0"])
        after = set(os.listdir(RUNS)) if os.path.isdir(RUNS) else set()
        self.assertEqual(after - before, set())

    def test_fails_without_program_sources(self):
        """Only BENCHMARK.json and perfbench/: no program to build."""
        root = scratch_dir()
        try:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), root)
            shutil.copytree(HERE, os.path.join(root, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "many_small", "--seed",
                 "1", "--seconds", "1", "--trace", "0"], cwd=root, capture_output=True,
                text=True, timeout=120)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)
        finally:
            shutil.rmtree(root, ignore_errors=True)


class EndToEndTest(unittest.TestCase):
    """One short run per trace mode: every BENCHMARK.json metric of that
    mode is printed by name with its unit, outputs check, and the run root
    is gone afterwards."""

    def _run(self, trace):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "many_small", "--seed", "7",
             "--seconds", "1", "--trace", str(trace)], cwd=REPO, capture_output=True,
            text=True, timeout=600)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        return proc.stdout.strip().splitlines()

    def test_metrics_and_cleanup(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines = self._run(trace)
            result = json.loads(lines[-1])
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            self.assertGreaterEqual(result["attempted"], 1)
            want = {m["name"]: m["unit"] for m in spec[key]}
            self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
            for name, unit in want.items():
                self.assertTrue(any(l.startswith(f"# {name} = ") and l.endswith(f" {unit}")
                                    for l in lines), name)
            leftovers = [d for d in os.listdir(RUNS) if d.startswith("many_small-7-")] \
                if os.path.isdir(RUNS) else []
            self.assertEqual(leftovers, [])


if __name__ == "__main__":
    unittest.main()
