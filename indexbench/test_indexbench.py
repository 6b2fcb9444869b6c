"""Tests of the benchmark itself.

    python3 -m unittest discover -s indexbench -p 'test_*.py'

The generator test builds the benchmark (see build.py) and runs the
JVM generator, so it needs the same toolchain as a benchmark run.
"""
import filecmp
import math
import os
import subprocess
import tempfile
import unittest
from pathlib import Path

import build
import run
import stats


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value_leaves_ten_samples_beyond(self):
        xs = list(range(100))
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertIsNone(stats.tail(xs[:12]))

    def test_quantile_interpolates(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([1, 2, 3, 4]), 2.5)
        self.assertEqual(stats.quantile([0, 10], 0.25), 2.5)


class Metrics(unittest.TestCase):
    WAREHOUSE = {"files": 40, "bytes": 5000, "blocks": 10}

    def test_backfill_rate_uses_median_pass(self):
        m = run.end_to_end({"workload": "backfill", "setup_s": [0.3, 0.1, 0.2],
                            "backfill_s": [4.0, 2.0, 5.0], "blocks": 10,
                            "warehouse": self.WAREHOUSE, "input_bytes": 10000})
        self.assertEqual(m["setup_s"], 0.2)
        self.assertEqual(m["throughput_per_s"], 2.5)
        self.assertEqual(m["warehouse_bytes_per_input_byte"], 0.5)

    def test_explorer_weights_samples_to_the_mix(self):
        # 3:1 mix, but the window completed 30 fast (one stray) and 30
        # slow queries.
        qs = [["transactionByHash", 0.1]] * 29 + [["transactionByHash", 9.0]] \
            + [["dailyGasStats", 0.5]] * 30
        m = run.end_to_end({"workload": "explorer", "setup_s": [7.0], "queries": qs,
                            "mix": {"transactionByHash": 3, "dailyGasStats": 1},
                            "clients": 2, "warehouse": self.WAREHOUSE, "input_bytes": 10000})
        self.assertAlmostEqual(m["throughput_per_s"], 2 / (0.75 * 0.1 + 0.25 * 0.5))
        self.assertEqual(m["warehouse_bytes_per_input_byte"], 0.5)

    def test_trace_overhead_is_traced_over_untraced(self):
        self.assertEqual(run.trace_overhead({"workload": "backfill", "backfill_s": [6.0],
                                             "backfill_untraced_s": [5.0]}), 1.2)
        qs = [["a", 0.2], ["b", 0.4]]
        untraced = [["a", 0.1], ["b", 0.2]]
        self.assertAlmostEqual(run.trace_overhead({
            "workload": "explorer", "queries": qs, "queries_untraced": untraced,
            "mix": {"a": 1, "b": 1}}), 2.0)

    def test_missing_type_is_not_measured(self):
        self.assertTrue(math.isnan(stats.mix_weighted_latency([("a", 1.0)], {"a": 1, "b": 1})))


class Generator(unittest.TestCase):
    def gen(self, seed, blocks, out):
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(build.classpath()),
                        "indexbench.Main", "gen", "--seed", str(seed),
                        "--blocks", str(blocks), "--dir", str(out)], check=True)
        return sorted(p.name for p in Path(out).iterdir())

    def test_same_seed_gives_identical_files(self):
        build.build()
        with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
            a, b, c = (Path(tmp) / x for x in "abc")
            names = self.gen(11, 60, a)
            self.assertEqual(names, self.gen(11, 60, b))
            self.assertGreater(len(names), 60)  # same-height forks
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            other = self.gen(12, 60, c)
            self.assertNotEqual([(a / n).read_bytes() for n in names[:5]],
                                [(c / n).read_bytes() for n in other[:5]])


class TableCheck(unittest.TestCase):
    def test_fingerprint_sees_which_column_is_null(self):
        build.build()
        with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
            out = subprocess.run(
                ["java", "-XX:-UsePerfData"] + build.java_opens()
                + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(build.classpath()),
                   "indexbench.Main", "null-fingerprints", "--dir", tmp],
                check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        xnull, nullx, again = out.stdout.split()[-3:]
        self.assertNotEqual(xnull, nullx)
        self.assertEqual(xnull, again)


if __name__ == "__main__":
    unittest.main()
