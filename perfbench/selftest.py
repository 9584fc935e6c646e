#!/usr/bin/env python3
"""Self-tests for the benchmark's own helpers.

Usage (from the root of a checkout):
    python3 perfbench/selftest.py          # all tests
    python3 perfbench/selftest.py --quick  # skip the two that start a JVM

The JVM tests build the harness first if needed (see run.py).
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import metrics  # noqa: E402
import notion_gen  # noqa: E402
import oplog  # noqa: E402
import querymix  # noqa: E402
import stats  # noqa: E402

QUICK = "--quick" in sys.argv
# scratch space stays inside the checkout
tempfile.tempdir = os.path.join(os.path.dirname(HERE), ".bench_build", "selftest")
os.makedirs(tempfile.tempdir, exist_ok=True)


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            notion_gen.generate(a, 5, 350)
            notion_gen.generate(b, 5, 350)
            notion_gen.generate(c, 6, 350)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_layout_and_planted_rules(self):
        with tempfile.TemporaryDirectory() as t:
            m = notion_gen.generate(t, 9, 1000)
            with open(os.path.join(t, "recorded", "db-ts.jsonl")) as f:
                lines = f.read().splitlines()
            self.assertEqual(json.loads(lines[0])["object"], "database")
            pages = [json.loads(x) for x in lines[1:]]
            self.assertEqual([len(p["results"]) for p in pages], [100] * 10)
            self.assertEqual([p["next_cursor"] for p in pages],
                             [f"cur-{i}" for i in range(1, 10)] + [None])
            self.assertEqual(len(m["issues_by_rule"]), 7)
            self.assertTrue(all(v > 0 for v in m["issues_by_rule"].values()), m)
            self.assertEqual(m["canon"]["timeslices"],
                             1000 - m["issues_by_rule"]["MISSING_WORKFLOW_DEFINITION"])


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(values), (90, 90.0, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99.0, 10))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50.0, 10))

    def test_too_few_samples_give_the_slowest(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))

    def test_median(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([5, 1, 3]), 3)


class ReplayTest(unittest.TestCase):
    """A hand-written round with a known end state."""

    def test_tiny_round(self):
        def fact(rows, extra=None):
            t = oplog._fact_table(rows)
            for name, typ, vals in extra or ():
                t = t.append_column(name, pa.array(vals, type=typ))
            return t

        with tempfile.TemporaryDirectory() as t:
            sf = os.path.join(t, "sf")
            os.makedirs(sf)
            pq.write_table(pa.table({
                "event_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
                "ts": pa.array([0, 0, 0, 0, 0], pa.int64()),
                "user_id": pa.array([7, 7, 8, 8, 8], pa.int64()),
                "event_type": ["a", "b", "c", "d", "e"],
                "value": [1.0, 2.0, 3.0, 4.0, 5.0], "props": ["", "", "", "", ""]}),
                os.path.join(sf, "events.parquet"))
            ops = os.path.join(t, "ops")
            os.makedirs(ops)
            pq.write_table(pa.table({"user_id": pa.array([7, 8], pa.int64()),
                                     "segment": ["s7", "s8"]}), os.path.join(t, "dim.parquet"))
            w = lambda n, tab: pq.write_table(tab, os.path.join(ops, f"{n}.parquet"))
            # append 10; merge 2 -> x and insert 11; cdc: 3 deleted, 1
            # updated by its higher seq; delete the range [4, 5]; the
            # branch adds 20 and moves user 8 to segment t8
            w("append", fact([(10, 7, "e", 10.0)]))
            w("merge", fact([(2, 8, "x", 2.5), (11, 7, "y", 11.0)]))
            w("cdc", fact([(3, 8, "c", 3.0), (1, 7, "old", 0.0), (1, 7, "new", 1.5)],
                          [("seq", pa.int64(), [1, 2, 3]), ("op", pa.string(), ["D", "D", "U"])]))
            w("branch_fact", fact([(20, 8, "z", 20.0)]))
            w("branch_dim", pa.table({"user_id": pa.array([8], pa.int64()),
                                      "segment": ["t8"]}))
            with open(os.path.join(t, "oplog.json"), "w") as f:
                json.dump({"delete_lo": 4, "delete_hi": 5}, f)
            f1, d1 = oplog.replay(t, sf)
            self.assertEqual(f1, {1: (7, "new", 1.5), 2: (8, "x", 2.5), 10: (7, "e", 10.0),
                                  11: (7, "y", 11.0), 20: (8, "z", 20.0)})
            self.assertEqual(d1, {7: "s7", 8: "t8"})
            self.assertEqual(oplog.mv_rows(f1, d1), {"s7": (3, 22.5), "t8": (2, 22.5)})
            self.assertEqual(oplog.table_hash([(1, 2), (3, 4)]), oplog.table_hash([(3, 4), (1, 2)]))
            self.assertNotEqual(oplog.table_hash([(1, 2)]), oplog.table_hash([(1, 3)]))


class QueryOrderTest(unittest.TestCase):
    def test_seed_permutes_the_fixed_set(self):
        with tempfile.TemporaryDirectory() as t:
            a = querymix.generate(t, 1)["order"]
            b = querymix.generate(t, 1)["order"]
            c = querymix.generate(t, 2)["order"]
            with open(os.path.join(t, "queries.txt")) as f:
                self.assertEqual(f.read().split(), c)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(sorted(a), sorted(q for qs in querymix.QUERIES.values() for q in qs))


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)


@unittest.skipIf(QUICK, "starts a JVM")
class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import run
        cls.bench = run
        cls.classpath, cls.jvm_opts, _ = run.build()

    def test_call_site_attribution_on_known_jobs(self):
        with tempfile.TemporaryDirectory() as t:
            out = subprocess.run(["java", "-Xmx1g", f"-Djava.io.tmpdir={t}"] + self.jvm_opts +
                                 ["-cp", self.classpath, "perfbench.SelfTest", t], cwd=t,
                                 capture_output=True, text=True, timeout=170)
            self.assertEqual(out.returncode, 0, out.stdout[-2000:] + out.stderr[-2000:])

    def test_duckdb_recount_of_a_small_workspace(self):
        """The pipeline on a small workspace: canon and per-rule counts
        against the generator's manifest, star-table row counts against
        the DuckDB recount from canon, sheets and Power BI rows."""
        with tempfile.TemporaryDirectory() as t:
            manifest = notion_gen.generate(os.path.join(t, "inputs"), 3, 300)
            res = self.bench.run_jvm(self.classpath, self.jvm_opts, t, [
                "--workload", "notion_etl", "--trace", "0", "--cores", "2",
                "--inputs", os.path.join(t, "inputs")])
            out = checks.run("notion_etl", res, manifest, t, None)
            self.assertEqual(out.failed, 0, out.details)
            self.assertEqual(out.attempted, 7)
            star = out.details["star_recount"]
            self.assertEqual(star["FactTimeslices"], manifest["canon"]["timeslices"])
            self.assertEqual(star["DimStage"], manifest["pages"]["workflowStages"])


if __name__ == "__main__":
    unittest.main(argv=[sys.argv[0]] + [a for a in sys.argv[1:] if a != "--quick"])
