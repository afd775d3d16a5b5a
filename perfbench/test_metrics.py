"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

from metrics import (attribute_jobs, batch_growth, dir_bytes, geomean, interval_union,
                     module_of, tail)

SITE = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:100)
graft.sources.VersionedTable$.snapshotAt(VersionedTable.scala:790)
graft.ops.Scd2$.mergeVersioned(Scd2.scala:140)
graft.pipeline.Medallion$.runVersioned(Medallion.scala:90)
graftbench.MedallionWorkload.runDrop(MedallionWorkload.scala:117)"""


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(40, 0, -1))            # 1..40, unsorted
        self.assertEqual(tail(xs), (75.0, 30))  # 31..40 lie beyond it

    def test_needs_eleven_samples(self):
        self.assertIsNone(tail(list(range(10))))
        pct, v = tail(list(range(11)))
        self.assertAlmostEqual(pct, 100 / 11)
        self.assertEqual(v, 0)

    def test_hundred_samples_is_p90(self):
        self.assertEqual(tail(list(range(1, 101))), (90.0, 90))


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(geomean([2.0, 2.0, 2.0]), 2.0)
        self.assertEqual(geomean([]), 0.0)

    def test_one_slow_query_does_not_dominate(self):
        self.assertLess(geomean([0.1] * 9 + [10.0]), 0.2)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            geomean([1.0, 0.0])


class DirBytesTest(unittest.TestCase):
    def test_walks_nested_files_and_skips_links(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(f"{d}/a/b")
            with open(f"{d}/a/x.parquet", "wb") as f:
                f.write(b"1234")
            with open(f"{d}/a/b/.x.crc", "wb") as f:
                f.write(b"12")
            os.symlink(f"{d}/a/x.parquet", f"{d}/link")
            self.assertEqual(dir_bytes(d), (2, 6))
            self.assertEqual(dir_bytes(f"{d}/a/b", f"{d}/missing"), (1, 2))


class AttributionTest(unittest.TestCase):
    def test_innermost_graft_frame(self):
        self.assertEqual(module_of(SITE), "sources")

    def test_package_root_class(self):
        self.assertEqual(module_of("graft.Tables$.t(Tables.scala:17)\n"), "graft")

    def test_harness_and_spark_frames_are_not_graft(self):
        self.assertIsNone(module_of("org.apache.spark.sql.graft.X.y(X.scala:1)\n"
                                    "graftbench.Main$.main(Main.scala:1)"))

    def test_fallbacks(self):
        spans = [{"id": 7, "name": "queries.exec"}]
        jobs = [
            {"id": 1, "span": 7, "execution": "3", "call_site": SITE},
            {"id": 2, "span": 7, "execution": "3", "call_site": "java.lang.Thread.run(X)"},
            {"id": 3, "span": 7, "execution": "4", "call_site": "graftbench.Main$.x(M)"},
            {"id": 4, "span": 9, "execution": "", "call_site": ""},
        ]
        self.assertEqual(attribute_jobs(jobs, spans),
                         {1: "sources", 2: "sources", 3: "queries", 4: "bench"})


class GrowthTest(unittest.TestCase):
    def test_last_third_over_first_third(self):
        self.assertAlmostEqual(batch_growth([1, 1, 1, 5, 5, 5, 2, 2, 2]), 2.0)
        self.assertAlmostEqual(batch_growth([2.0, 3.0]), 1.5)
        self.assertEqual(batch_growth([4.0]), 0.0)

    def test_median_resists_one_outlier(self):
        self.assertAlmostEqual(batch_growth([1, 1, 9, 3, 3, 3, 2, 2, 2]), 2.0)


class IntervalTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(interval_union([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(interval_union([]), 0)


if __name__ == "__main__":
    unittest.main()
