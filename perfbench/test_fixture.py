"""Tests of the seeded fixture, the layer attribution and the compare rule.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

import compare
import fixture
import run


def record_lengths(tab):
    return sorted(Counter(tab.column("user_id").to_pylist()).values())


class FixtureTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.base = {t: pq.read_table(fixture.BASE / f"{t}.parquet") for t in fixture.TABLES}
        cls.a, cls.a2, cls.b = fixture.relabelled(1), fixture.relabelled(1), fixture.relabelled(2)

    def test_same_seed_same_inputs(self):
        for t in fixture.TABLES:
            self.assertTrue(self.a[t].equals(self.a2[t]), t)

    def test_written_files_are_identical(self):
        with tempfile.TemporaryDirectory() as d:
            fixture.build(Path(d) / "x", 3)
            fixture.build(Path(d) / "y", 3)
            for t in fixture.TABLES:
                self.assertTrue(pq.read_table(Path(d) / "x" / f"{t}.parquet")
                                .equals(pq.read_table(Path(d) / "y" / f"{t}.parquet")), t)

    def test_seeds_keep_counts_schema_and_lengths(self):
        for t in fixture.TABLES:
            for s in (self.a, self.b):
                self.assertEqual(s[t].num_rows, self.base[t].num_rows, t)
                self.assertTrue(s[t].schema.equals(self.base[t].schema), t)
        self.assertEqual(str(self.a["events"].schema.field("ts").type),
                         str(self.base["events"].schema.field("ts").type))
        self.assertEqual(record_lengths(self.a["events"]), record_lengths(self.base["events"]))
        self.assertEqual(record_lengths(self.b["events"]), record_lengths(self.base["events"]))

    def test_seeds_place_ids_differently(self):
        for t, c in [("events", "user_id"), ("documents", "doc_id"),
                     ("embeddings", "vec_id"), ("orders", "o_orderkey")]:
            self.assertEqual(sorted(set(self.a[t].column(c).to_pylist())),
                             sorted(set(self.base[t].column(c).to_pylist())), t)
            pa_, pb = (dict(zip(s[t].column(c).to_pylist(), s[t].column(1).to_pylist()))
                       for s in (self.a, self.b))
            self.assertNotEqual(pa_, pb, t)

    def test_joined_keys_stay_consistent(self):
        def joined(s):
            keys = set(s["orders"].column("o_orderkey").to_pylist())
            cust = set(s["customer"].column("c_custkey").to_pylist())
            return (sum(1 for k in s["lineitem"].column("l_orderkey").to_pylist() if k in keys),
                    sum(1 for k in s["orders"].column("o_custkey").to_pylist() if k in cust))
        self.assertEqual(joined(self.a), joined(self.base))
        self.assertEqual(joined(self.b), joined(self.base))
        # each order keeps its line items: lines per order are a relabelling
        for s in (self.a, self.b):
            self.assertEqual(sorted(Counter(s["lineitem"].column("l_orderkey").to_pylist()).values()),
                             sorted(Counter(self.base["lineitem"].column("l_orderkey").to_pylist()).values()))


class LayerTest(unittest.TestCase):
    def test_self_time_and_eager_jobs(self):
        def span(i, parent, name, layer, dur, jobs=0, tasks=0):
            return {"id": i, "parent": parent, "name": name, "layer": layer, "dur_s": dur,
                    "jobs": jobs, "stages": jobs, "tasks": tasks, "run_ms": 0, "cpu_ns": 0,
                    "gc_ms": 0, "shuffle_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0}
        spans = [span(1, 0, "opset_store", "core", 3.0), span(2, 1, "plan", "core", 2.0),
                 span(3, 2, "Opset.save", "core", 1.5, jobs=2, tasks=4),
                 span(4, 1, "exec", "core", 1.0, jobs=1, tasks=2),
                 span(5, 0, "sg_smooth", "dsp", 1.0), span(6, 5, "plan", "dsp", 0.25),
                 span(7, 5, "exec", "dsp", 0.75, jobs=1, tasks=4)]
        m = run.pass_layers({"spans": spans, "total": span(0, 0, "", "", 0, jobs=4, tasks=10), "wall_s": 4.0, "cached_tables": 0,
                             "cached_bytes": 0, "cap_fires": 0}, ["core", "dsp"], 4)
        self.assertAlmostEqual(m["core.self_s"], 3.0)
        self.assertAlmostEqual(m["core.plan_s"], 2.0)
        self.assertEqual(m["core.eager_jobs"], 2)
        self.assertEqual(m["core.tasks"], 6)
        self.assertEqual(m["dsp.eager_jobs"], 0)
        self.assertAlmostEqual(m["SparkEntry.plan_s"], 2.25)
        self.assertAlmostEqual(m["SparkEntry.exec_s"], 1.75)

    def test_tail_never_below_p90(self):
        value, pct, beyond = run.op_tail([float(i) for i in range(1, 31)])
        self.assertEqual((pct, beyond), (90.0, 3))
        value, pct, beyond = run.op_tail([float(i) for i in range(1, 201)])
        self.assertEqual((pct, beyond), (95.0, 10))


class VerdictTest(unittest.TestCase):
    def test_rules(self):
        a = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(a, list(a), 0, 10, 0.1, True), "unchanged")
        self.assertEqual(compare.verdict(a, [x * 0.8 for x in a], 10, 10, 0.1, True), "improved")
        self.assertEqual(compare.verdict(a, [x * 1.3 for x in a], 0, 10, 0.1, True), "worse")
        wide = [5.0, 15.0, 6.0, 14.0, 10.0, 7.0, 13.0, 8.0, 12.0, 10.0]
        self.assertEqual(compare.verdict(a, wide, 5, 10, 0.1, True), "unresolved")


if __name__ == "__main__":
    unittest.main()
