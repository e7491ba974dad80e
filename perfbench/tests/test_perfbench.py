"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

`Offline` needs no JVM. `Workloads` runs the benchmark itself on tiny
inputs; the first run in a fresh checkout builds the program (minutes).
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

TINY = "500"  # rows per month: the table then has sf0.001's 6,000 rows


def bench(*args):
    """Run the benchmark; return (exit code, last-line JSON or None)."""
    p = subprocess.run([sys.executable, str(HERE / "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


class Offline(unittest.TestCase):

    def test_inputs_are_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.migration_table(f"{d}/a.parquet", 7, 4, 100)
            b = gen.migration_table(f"{d}/b.parquet", 7, 4, 100)
            c = gen.migration_table(f"{d}/c.parquet", 8, 4, 100)
            self.assertEqual(a, b)
            self.assertEqual(Path(f"{d}/a.parquet").read_bytes(),
                             Path(f"{d}/b.parquet").read_bytes())
            self.assertNotEqual(Path(f"{d}/a.parquet").read_bytes(),
                                Path(f"{d}/c.parquet").read_bytes())

    def test_drift_changes_exactly_the_seeded_months(self):
        with tempfile.TemporaryDirectory() as d:
            gen.migration_table(f"{d}/src.parquet", 3, 12, 50)
            months, column = gen.drift(f"{d}/src.parquet", f"{d}/dst.parquet", 3, 3)
            src, dst = pq.read_table(f"{d}/src.parquet"), pq.read_table(f"{d}/dst.parquet")
            ship = src.column("l_shipdate").to_numpy().astype("datetime64[M]").astype(str)
            changed = {m for m, a, b in zip(ship, src.column(column).to_pylist(),
                                            dst.column(column).to_pylist()) if a != b}
            self.assertEqual(sorted(changed), months)
            self.assertEqual(len(months), 3)

    def test_summary_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.summarize([1.0] * 19)["pct"])
        s = run.summarize([float(i) for i in range(100)])
        self.assertEqual((s["pct"], s["n"], s["median"]), (90, 100, 49.5))

    def test_trace_overhead_uses_neighbouring_plain_units(self):
        res = {"units": [{"i": 0, "wall_s": 2.0}, {"i": 2, "wall_s": 4.0}],
               "traced_units": [{"i": 1, "wall_s": 3.5}]}
        self.assertAlmostEqual(run.trace_overhead(res), 0.5)

    def test_timings_are_divided_by_the_host_factor(self):
        res = {"units": [{"wall_s": 4.0, "cpu_s": 9.0}, {"wall_s": 6.0, "cpu_s": 12.0}]}
        probes = [(run.PROBE_REF[0] * 1.5, run.PROBE_REF[1] * 3.0),
                  (run.PROBE_REF[0] * 2.5, run.PROBE_REF[1] * 3.0)]
        metrics, detail = run.end_to_end(res, 30.0, probes)
        self.assertAlmostEqual(metrics["wall_s"]["value"], 2.5)
        self.assertAlmostEqual(metrics["cpu_s"]["value"], 3.5)
        self.assertAlmostEqual(metrics["setup_s"]["value"], 15.0)
        self.assertEqual(detail["raw"]["wall_s"], 5.0)

    def test_benchmark_json_declares_every_printed_metric(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))


class Workloads(unittest.TestCase):

    def assert_metrics(self, result, declared):
        self.assertEqual(set(result["metrics"]), set(declared))
        for name, m in result["metrics"].items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], declared[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_metrics_parse_with_names_and_units(self):
        for trace, declared in (("0", run.END_TO_END), ("1", run.PER_LAYER)):
            code, result = bench("--workload", "migration", "--seed", "5",
                                 "--seconds", "1", "--trace", trace,
                                 "--rows-per-month", TINY)
            self.assertEqual(code, 0)
            self.assertTrue(result["correct"])
            self.assert_metrics(result, declared)

    def test_amplification_and_recopy_ratio_on_tiny_inputs(self):
        code, result = bench("--workload", "migration", "--seed", "6",
                             "--seconds", "1", "--trace", "1",
                             "--rows-per-month", TINY)
        self.assertEqual(code, 0)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        # enumerate and count scan the source once each; each partition's
        # copy filters on the derived month key, which cannot prune the
        # parquet scan, so it reads every source row again.
        self.assertEqual(m["migrate.scan_amplification"], run.MONTHS + 2)
        # resync: the source checksum scans once, each drifted copy once
        self.assertEqual(m["resync.scan_amplification"], 1 + run.DRIFTED)
        self.assertEqual(m["resync.drifted_partitions"], run.DRIFTED)
        self.assertEqual(m["resync.recopy_ratio"], 1.0)

    def test_injected_query_failure_fails_the_run(self):
        code, result = bench("--workload", "analytics", "--seed", "5",
                             "--seconds", "1", "--trace", "1",
                             "--inject-failure", "x_hist")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(result["metrics"]["failed_ratio"]["value"], 0)
        self.assertAlmostEqual(result["metrics"]["failed_ratio"]["value"],
                               result["failed"] / result["attempted"], places=5)


if __name__ == "__main__":
    unittest.main()
