"""Self-test of the benchmark's helpers; needs no Spark.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median_needs_one_sample(self):
        self.assertEqual(stats.percentile([7.0], 50), 7.0)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)

    def test_tail_needs_ten_samples_beyond_it(self):
        # p90 has 10 samples beyond it only from 100 samples on
        self.assertIsNone(stats.percentile([float(i) for i in range(99)], 90))
        self.assertAlmostEqual(stats.percentile([float(i) for i in range(100)], 90), 89.1)
        self.assertIsNone(stats.percentile([float(i) for i in range(40)], 90))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))

    def test_quartile_spread_and_geomean(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 9 + [11.0]), 0.0)
        self.assertGreater(stats.quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]), 0.2)
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class FileAttribution(unittest.TestCase):
    def test_each_file_gets_its_batch_end(self):
        log = {0: ["a", "b"], 1: ["c"], 2: ["d", "e"]}
        end, twice = stats.attribute_files(log, {0: 10.0, 1: 11.5, 2: 13.0})
        self.assertEqual(end, {"a": 10.0, "b": 10.0, "c": 11.5, "d": 13.0, "e": 13.0})
        self.assertEqual(twice, [])

    def test_file_listed_twice_is_reported_and_keeps_its_first_batch(self):
        end, twice = stats.attribute_files({0: ["a"], 3: ["a", "b"]}, {0: 1.0, 3: 4.0})
        self.assertEqual(twice, ["a"])
        self.assertEqual(end["a"], 1.0)

    def test_batch_without_progress_leaves_file_unconsumed(self):
        end, _ = stats.attribute_files({0: ["a"], 1: ["b"]}, {0: 1.0})
        self.assertNotIn("b", end)


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
        os.makedirs(self.tmp)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _digest(self, d: str) -> dict[str, str]:
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
        return out

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        rows = datagen.write_warehouse(a, 5)
        datagen.write_warehouse(b, 5)
        datagen.write_warehouse(c, 6)
        self.assertEqual(self._digest(a), self._digest(b))
        self.assertNotEqual(self._digest(a)["events.parquet"], self._digest(c)["events.parquet"])
        self.assertEqual(rows["lineitem"], 60_000)
        self.assertEqual(set(rows), set(datagen.TABLE_FILES))

    def test_event_files_depend_on_seed_and_index_only(self):
        f1 = datagen.EventFiles(3, 50, 10)
        f2 = datagen.EventFiles(3, 50, 10)
        self.assertTrue(f1.table(4).equals(f2.table(4)))
        self.assertFalse(f1.table(4).equals(datagen.EventFiles(4, 50, 10).table(4)))
        t = f1.table(4)
        ids = t.column("event_id").to_pylist()
        self.assertEqual(ids, list(range(200, 250)))
        ts = t.column("ts").to_pylist()
        self.assertEqual(ts, sorted(set(ts)))  # distinct, in event-time order
        self.assertLess(max(f1.table(3).column("ts").to_pylist()), min(ts))

    def test_write_renames_into_place(self):
        drop, staging = os.path.join(self.tmp, "drop"), os.path.join(self.tmp, "stg")
        os.makedirs(drop)
        os.makedirs(staging)
        path = datagen.EventFiles(1, 20, 5).write(7, drop, staging)
        self.assertEqual(os.listdir(staging), [])
        self.assertEqual(os.listdir(drop), [os.path.basename(path)])


class ResultLine(unittest.TestCase):
    def test_format(self):
        line = stats.result_line(True, 30, 0, {"pass_s": (5.5123, "s"), "setup_s": (31.2, "s")})
        d = json.loads(line)
        self.assertEqual(list(d), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(d["metrics"]["pass_s"], {"value": 5.5123, "unit": "s"})
        self.assertIs(d["correct"], True)
        self.assertNotIn("\n", line)

    def test_rejects_bad_counts_and_values(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 3, 4, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 3, 0, {"x": (float("nan"), "s")})


if __name__ == "__main__":
    unittest.main()
