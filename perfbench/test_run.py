#!/usr/bin/env python3
"""Self-tests of run.py and, once a build exists, of the JVM runner.

Run from the root of a graft checkout:  python3 perfbench/test_run.py
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def report(failures=(), failed=0, attempted=10):
    """A finished run's report with one untraced warm pass."""
    return {
        "workload": "census_etl", "seed": 7, "attempted": attempted, "failed": failed,
        "failures": list(failures),
        "passes": [
            {"index": 0, "traced": False, "ops": [{"wall_s": 9.0, "error": None}]},
            {"index": 1, "traced": False, "ops": [{"wall_s": 0.5, "error": None},
                                                   {"wall_s": 0.7, "error": "boom"}]},
        ],
        "end_to_end": {"setup_s": 1.0, "launch_s": 4.0, "cold_s": 9.0, "warm_s": 0.5, "live_heap_mb": 100.0},
        "per_layer": {},
        "summary": {},
    }


class Arguments(unittest.TestCase):
    def rejects(self, *argv):
        with self.assertRaises(SystemExit) as cm:
            run.parse_args(list(argv))
        self.assertNotEqual(cm.exception.code, 0)

    def test_unknown_workload_fails_loudly(self):
        self.rejects("--workload", "tpch", "--seed", "1", "--seconds", "5", "--trace", "0")

    def test_bad_seed_fails_loudly(self):
        for seed in ("-1", "x", "1.5", ""):
            self.rejects("--workload", "census_etl", "--seed", seed, "--seconds", "5", "--trace", "0")

    def test_bad_seconds_or_trace_fail_loudly(self):
        self.rejects("--workload", "census_etl", "--seed", "1", "--seconds", "0", "--trace", "0")
        self.rejects("--workload", "census_etl", "--seed", "1", "--seconds", "5", "--trace", "2")
        self.rejects("--workload", "census_etl", "--seed", "1", "--seconds", "5")

    def test_command_line_exits_nonzero_without_a_result(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "nope", "--seed", "1",
                            "--seconds", "5", "--trace", "0"], capture_output=True, text=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn("correct", p.stdout)
        self.assertIn("nope", p.stderr)

    def test_valid_arguments_parse(self):
        a = run.parse_args(["--workload", "index_maintain", "--seed", "3", "--seconds", "8", "--trace", "1"])
        self.assertEqual((a.workload, a.seed, a.seconds, a.trace), ("index_maintain", 3, 8, True))


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        s = run.percentile_stats([float(i) for i in range(1, 100)])  # 99 samples: 9 beyond p90
        self.assertNotIn("query_p90_s", s)
        self.assertIn("9 of 99", s["query_p90_omitted"])
        s = run.percentile_stats([float(i) for i in range(1, 101)])  # 100 samples: 10 beyond p90
        self.assertEqual(s["query_p90_s"], 90.0)
        self.assertEqual(s["query_p50_s"], 50.0)

    def test_ties_at_p90_are_not_beyond_it(self):
        s = run.percentile_stats([1.0] * 500)
        self.assertNotIn("query_p90_s", s)
        self.assertNotIn("query_p75_s", s)

    def test_p75_stands_in_when_p90_has_too_few_beyond_it(self):
        s = run.percentile_stats([float(i) for i in range(1, 49)])  # 48 samples: 4 beyond p90, 12 beyond p75
        self.assertNotIn("query_p90_s", s)
        self.assertEqual(s["query_p75_s"], 36.0)

    def test_only_untraced_warm_successes_are_samples(self):
        s = run.query_percentiles(report())
        self.assertEqual(s["query_samples"], 1)
        self.assertEqual(s["query_p50_s"], 0.5)


class Failures(unittest.TestCase):
    def test_operation_that_threw_is_counted_and_named(self):
        r = report(failures=[{"name": "q07_derived_id", "kind": "query", "pass": 2, "error": "boom"}],
                   failed=1)
        lines, result, code = run.summarize(r, [], trace=False)
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertNotEqual(code, 0)
        self.assertTrue(any("q07_derived_id" in x and x.startswith("FAILED") for x in lines))

    def test_wrong_result_is_counted(self):
        lines, result, code = run.summarize(report(), ["q01_agg: column 'revenue' differs"], trace=False)
        self.assertEqual((result["failed"], result["attempted"]), (1, 10))
        self.assertFalse(result["correct"])
        self.assertNotEqual(code, 0)
        self.assertTrue(any("failed_frac = 0.1" in x for x in lines))

    def test_clean_run_is_correct(self):
        lines, result, code = run.summarize(report(), [], trace=False)
        self.assertTrue(result["correct"])
        self.assertEqual(code, 0)
        self.assertEqual(set(result["metrics"]), set(run.END_TO_END))

    def test_oracle_check_catches_wrong_and_missing_results(self):
        import duckdb
        with tempfile.TemporaryDirectory() as tmp:
            data = os.path.join(tmp, "data")
            os.makedirs(data)
            duckdb.execute(f"COPY (SELECT * FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA')) t(r_regionkey, r_name)) "
                           f"TO '{data}/region.parquet' (FORMAT parquet)")
            saved = run.WORK_DIR
            run.WORK_DIR = os.path.join(tmp, "work")
            try:
                out = os.path.join(run.WORK_DIR, "run-census_etl", "out")
                os.makedirs(out)
                sql = "SELECT r_regionkey, r_name FROM region"
                con = duckdb.connect()
                con.execute(f"CREATE VIEW region AS SELECT * FROM read_parquet('{data}/region.parquet')")
                con.execute(f"COPY ({sql}) TO '{out}/good.parquet' (FORMAT parquet)")
                con.execute(f"COPY (SELECT r_regionkey + 1 AS r_regionkey, r_name FROM region) "
                            f"TO '{out}/wrong.parquet' (FORMAT parquet)")
                for q in ("good", "wrong"):  # Spark writes a directory per result
                    os.makedirs(os.path.join(out, q))
                    os.replace(os.path.join(out, f"{q}.parquet"), os.path.join(out, q, "part-0.parquet"))
                r = {"workload": "census_etl", "checked": ["good", "wrong", "missing", "no_oracle"],
                     "summary": {"oracle_sql": {"good": sql, "wrong": sql, "missing": sql}}}
                failures = run.oracle_check(r, data)
            finally:
                run.WORK_DIR = saved
        self.assertEqual(len(failures), 3, failures)
        self.assertTrue(any(f.startswith("wrong:") for f in failures))
        self.assertTrue(any(f.startswith("missing: no result") for f in failures))
        self.assertTrue(any(f.startswith("no_oracle: no oracle") for f in failures))


class Runner(unittest.TestCase):
    """The JVM runner's own failure accounting (needs a build from an
    earlier run; about 15 s)."""

    def test_throwing_operation_is_counted_in_every_pass(self):
        if not os.path.isdir(os.path.join(run.CLASSES, "graft", "perfbench")):
            self.skipTest("harness not built yet; run perfbench/run.py once")
        opens = [x for p in run.JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        with tempfile.TemporaryDirectory() as tmp:
            p = subprocess.run(["java", *opens, "-Xmx1g", "-cp",
                                f"{run.CLASSES}{os.pathsep}{os.path.join(run.spark_jars(), '*')}",
                                "graft.perfbench.SelfTest", tmp], capture_output=True, text=True, timeout=170)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertIn("selftest ok", p.stdout)


class Inputs(unittest.TestCase):
    def test_input_directory_is_fixed_and_complete(self):
        saved = os.environ.pop(run.DATA_ENV, None)
        try:
            d = run.data_dir()  # graft.Bench's corpus, at the sf0.01 scale
            self.assertEqual(os.path.basename(d), "sf0.01")
            self.assertEqual(d, run.data_dir())
            with tempfile.TemporaryDirectory() as tmp:
                os.environ[run.DATA_ENV] = tmp
                with self.assertRaises(SystemExit) as cm:
                    run.data_dir()  # no tables there
                self.assertNotEqual(cm.exception.code, 0)
        finally:
            os.environ.pop(run.DATA_ENV, None)
            if saved is not None:
                os.environ[run.DATA_ENV] = saved


if __name__ == "__main__":
    unittest.main()
