"""Self-test of the benchmark command at a tiny scale (sf0.001).

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. Each workload runs one key (the failure
case adds a second key, forced to throw); the test checks
that every metric named in BENCHMARK.json is printed with its unit, that
percentiles carry their sample count, and that a key forced to throw is
counted as failed and contributes no time.

With PERFBENCH_FIXTURES set to a directory of the repository's sf0.01
test fixtures (TESTDATA.md), it also checks that the generator at seed
42 reproduces them.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--seed", "3", "--seconds", "1", "--sf", "0.001",
                        *args], cwd=cwd, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    tagged = {}
    for line in lines:
        if line.startswith("perfbench ") and line.count(" ") >= 2:
            _, tag, body = line.split(" ", 2)
            if body.startswith("{"):
                tagged[tag] = json.loads(body)
    final = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, final, tagged, p.stderr


class SelfTest(unittest.TestCase):
    @unittest.skipUnless(os.environ.get("PERFBENCH_FIXTURES"),
                         "PERFBENCH_FIXTURES is not set")
    def test_generator_reproduces_the_fixtures(self):
        import pyarrow.parquet as pq
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import gen_data
        for name, table in gen_data.tables(42, 0.01).items():
            want = pq.read_table(os.path.join(
                os.environ["PERFBENCH_FIXTURES"], f"{name}.parquet"))
            self.assertTrue(table.equals(want.replace_schema_metadata()),
                            name)

    def check_final(self, final, metrics):
        self.assertEqual(set(final), {"correct", "attempted", "failed",
                                      "metrics"})
        self.assertGreaterEqual(final["attempted"], 1)
        self.assertEqual({m["name"] for m in metrics}, set(final["metrics"]))
        for m in metrics:
            got = final["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_metrics(self):
        code, final, tagged, err = bench("--workload", "window_native",
                                         "--keys", "window_rows_sym",
                                         "--trace", "0")
        self.assertEqual(code, 0, err[-2000:])
        self.check_final(final, SPEC["end_to_end"])
        self.assertTrue(final["correct"])
        self.assertEqual(final["failed"], 0)
        summary = tagged["summary"]
        for name in ("call_p50_s", "call_p90_s", "pass_s", "failed_frac"):
            self.assertGreaterEqual(summary[name]["n"], 1, name)
        self.assertEqual(summary["call_p90_s"]["n"], final["attempted"])
        for k in ("cores", "shuffle_partitions", "heap_mb", "tmpdir", "tz"):
            self.assertIn(k, tagged["env"])

    def test_per_layer_metrics(self):
        code, final, tagged, err = bench("--workload", "build_heavy",
                                         "--keys", "dedup_clusters",
                                         "--trace", "1")
        self.assertEqual(code, 0, err[-2000:])
        self.check_final(final, SPEC["per_layer"])
        self.assertGreater(final["metrics"]["build.jobs"]["value"], 0)

    def test_stream_layer_metrics(self):
        code, final, tagged, err = bench("--workload", "stream_drain",
                                         "--keys", "dedup_stream_exact",
                                         "--trace", "1")
        self.assertEqual(code, 0, err[-2000:])
        self.check_final(final, SPEC["per_layer"])
        self.assertTrue(final["correct"])
        for name in ("stream.batches", "stream.trigger_ms_p50",
                     "stream.add_batch_ms", "stream.state_rows"):
            self.assertGreater(final["metrics"][name]["value"], 0, name)

    def test_forced_failure_counts_and_adds_no_time(self):
        code, final, tagged, err = bench(
            "--workload", "build_heavy",
            "--keys", "window_rolling_avgdistinct_rule,dedup_clusters",
            "--fail-key", "dedup_clusters", "--trace", "0")
        self.assertEqual(code, 0, err[-2000:])
        self.assertFalse(final["correct"])
        passes = tagged["summary"]["pass_s"]["n"]
        self.assertEqual(final["attempted"], 2 * passes)
        self.assertEqual(final["failed"], passes)
        self.assertIsNone(tagged["keys"]["key.dedup_clusters.s"])
        self.assertEqual(tagged["summary"]["call_p50_s"]["n"], passes)
        self.assertAlmostEqual(tagged["summary"]["pass_s"]["value"],
                               tagged["keys"]["key.window_rolling_avgdistinct_rule.s"],
                               places=6)

    def test_unknown_names_are_errors(self):
        for args in (["--workload", "no_such_workload"],
                     ["--workload", "window_native", "--keys", "no_such_key"]):
            code, final, _, _ = bench(*args, "--trace", "0")
            self.assertNotEqual(code, 0, args)
            self.assertIsNone(final, args)

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            code, final, _, _ = bench("--workload", "window_native",
                                      "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(final)


if __name__ == "__main__":
    unittest.main()
