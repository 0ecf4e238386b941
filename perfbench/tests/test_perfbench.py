"""Tests for the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402

SMALL_LAKE = {"base_offers": 60, "landings": 2, "landing_offers": 20,
              "base_files": 2, "files_per_landing": 1}


def lake_files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class LakeGeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_lake(a, 7, **SMALL_LAKE)
            gen.write_lake(b, 7, **SMALL_LAKE)
            files = lake_files(a)
            self.assertEqual(files, lake_files(b))
            self.assertIn(os.path.join("landing_1", "part-000.json"), files)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_lake(a, 7, **SMALL_LAKE)
            gen.write_lake(b, 8, **SMALL_LAKE)
            files = [f for f in lake_files(a) if f.endswith(".json")
                     and f != "truth.json"]
            _, mismatch, _ = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual(mismatch, files)

    def test_truth_counts_follow_the_cleaning_rules(self):
        rows = [
            {"job_url": "u1", "titre": "t", "via": "v", "publication_date": "hier"},
            {"job_url": "u1", "titre": "t", "via": "v",
             "publication_date": "05/01/2024"},
            {"job_url": "u2", "titre": "  ", "via": "v",
             "publication_date": "2024-01-05"},
            {"job_url": "u3", "titre": "t", "via": "v", "publication_date": None},
            '{"job_url": "u4", "tit',
        ]
        self.assertEqual(gen._truth(rows),
                         {"raw": 5, "malformed": 1, "clean": 2, "dated": 1})

    def test_lake_varies_the_branching_properties(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.write_lake(d, 3)
            base = t["base"]
            self.assertGreater(base["malformed"], 0)
            self.assertLess(base["clean"], base["raw"] - base["malformed"])
            self.assertLess(base["dated"], base["clean"])


class TailRankTest(unittest.TestCase):
    def test_rank_keeps_ten_samples_beyond(self):
        for n in (11, 16, 20, 48, 100, 1000):
            i, rank = metrics.tail_rank(n)
            self.assertEqual(n - 1 - i, 10, n)  # exactly ten beyond it
            self.assertAlmostEqual(rank, 100.0 * (i + 1) / n)
        self.assertEqual(metrics.tail_rank(100), (89, 90.0))

    def test_tail_value(self):
        values = list(range(100, 0, -1))  # order does not matter
        self.assertEqual(metrics.tail(values), (90, 90.0))

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_rank(5), (2, 60.0))
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 200.0 / 3))


def op(name, wall, ok=True, p=0, traced=False):
    return {"kind": "op", "pass": p, "traced": traced, "name": name,
            "wall_s": wall, "ok": ok, "error": None if ok else "boom",
            "heap_mb": 100.0, "start_ns": 0, "end_ns": 1}


def check(name, fp):
    return {"kind": "check", "name": name, "rows": 3, "fp": fp}


class FailureAccountingTest(unittest.TestCase):
    expected = {n: {"rows": 3, "fp": "ok"} for n in ("a", "b", "c")}

    def test_thrown_and_wrong_operations_carry_no_time(self):
        records = [
            {"kind": "setup", "s": 5.0, "heap_mb": 100.0},
            op("a", 1.0), op("b", 50.0, ok=False), op("c", 70.0),
            op("a", 2.0, p=1), op("b", 60.0, ok=False, p=1), op("c", 80.0, p=1),
            check("a", "ok"), check("b", "ok"), check("c", "wrong"),
        ]
        good, failed = metrics.classify(records, "star_analytics", self.expected)
        self.assertEqual([r["name"] for r in good], ["a", "a"])
        self.assertEqual(sorted(r["name"] for r in failed), ["b", "b", "c", "c"])
        m, _ = metrics.end_to_end(records, good, failed, "star_analytics")
        self.assertEqual(m["pass_s"], 1.5)
        self.assertEqual(m["op_p50_s"], 1.5)
        self.assertEqual(m["op_tail_s"], 1.0)
        self.assertEqual(len(failed) / (len(good) + len(failed)), 4 / 6)

    def test_unchecked_or_erroring_checks_fail(self):
        records = [op("a", 1.0), op("b", 1.0),
                   {"kind": "check", "name": "b", "error": "boom"}]
        good, failed = metrics.classify(records, "corpus_curation", self.expected)
        self.assertEqual(good, [])
        self.assertEqual([r["why"] for r in failed],
                         ["output not checked", "check failed: boom"])

    def test_lake_counts_are_compared_with_ground_truth(self):
        truth = {"base": {"raw": 10, "malformed": 1, "clean": 8, "dated": 6},
                 "landings": [{"clean": 4}, {"clean": 5}]}
        # the set-up rebuild is pass -1; each landing is one pass
        rebuild = dict(op("rebuild", 9.0, p=-1), landing=-1, n_raw=10,
                       n_quarantined=1, n_clean=8, n_facts=6)
        land0 = dict(op("landing", 2.0, p=0), landing=0, snapshot_rows=4)
        land1 = dict(op("landing", 3.0, p=1), landing=1, snapshot_rows=8)
        records = [rebuild, land0, land1,
                   {"kind": "lakecheck", "pass": -1, "landing": -1, "unresolved": 0},
                   {"kind": "lakecheck", "pass": 0, "landing": 0, "unresolved": 0,
                    "warehouse_facts": 4},
                   {"kind": "lakecheck", "pass": 1, "landing": 1, "unresolved": 0,
                    "warehouse_facts": 9}]
        good, failed = metrics.classify(records, "job_lake", truth=truth)
        self.assertEqual([r["name"] for r in good], ["rebuild", "landing"])
        self.assertIn("snapshot rows 8, expected 9", failed[0]["why"])
        m, _ = metrics.end_to_end(records, good, failed, "job_lake")
        # the rebuild is set-up: it is in no pass and no latency
        self.assertEqual((m["pass_s"], m["op_p50_s"]), (2.0, 2.0))

    def test_wrong_rebuild_counts_fail(self):
        truth = {"base": {"raw": 10, "malformed": 1, "clean": 8, "dated": 6},
                 "landings": []}
        rebuild = dict(op("rebuild", 9.0, p=-1), landing=-1, n_raw=10,
                       n_quarantined=1, n_clean=7, n_facts=6)
        records = [rebuild, {"kind": "lakecheck", "pass": -1, "landing": -1,
                             "unresolved": 2}]
        good, failed = metrics.classify(records, "job_lake", truth=truth)
        self.assertEqual(good, [])
        self.assertIn("2 fact ids resolve to no dimension", failed[0]["why"])
        self.assertIn("expected (10, 1, 8, 6)", failed[0]["why"])


class ExpectedOutputsTest(unittest.TestCase):
    def test_every_recorded_output_has_rows(self):
        # an empty expected output would pass for any change that empties it
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "expected.json")) as f:
            expected = json.load(f)
        for workload, queries in expected.items():
            for name, want in queries.items():
                self.assertGreater(want["rows"], 0, (workload, name))


class AttributionTest(unittest.TestCase):
    def test_call_site_names_the_engine_module(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        mods = metrics.source_modules(root)
        self.assertEqual(mods["Warehouse.scala"], "sources.Warehouse")
        self.assertEqual(mods["StreamingPipeline.scala"],
                         "streaming.StreamingPipeline")
        self.assertEqual(metrics.site_file("parquet at Warehouse.scala:40"),
                         "Warehouse.scala")
        self.assertEqual(metrics.site_file(
            "graft.sources.Warehouse$.upsertDim(Warehouse.scala:94)"),
            "Warehouse.scala")
        self.assertIsNone(metrics.site_file("noop"))

    def test_self_time_subtracts_covered_children(self):
        spans = [{"id": 1, "parent": 0, "start_ns": 0, "end_ns": 10_000_000_000},
                 {"id": 2, "parent": 1, "start_ns": 1e9, "end_ns": 4e9},
                 {"id": 3, "parent": 1, "start_ns": 3e9, "end_ns": 5e9}]
        self.assertEqual(metrics.self_times(spans), {1: 6.0, 2: 3.0, 3: 2.0})


if __name__ == "__main__":
    unittest.main()
