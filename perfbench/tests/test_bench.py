"""Tests of the benchmark itself (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import lake  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def fake_records(workload):
    """Raw harness records shaped like a real run of `workload`."""
    recs = {"setup": [{"sec": 3.0}], "op": [],
            "pass": [], "meta": [{"peak_rss_mb": 900.0}]}
    names = ["q_pipeline_e2e", "q_comprobar", "q1_agg"]
    kinds = ["query"] * 3
    if workload == "lake_ingest":
        names = ["000_append", "001_read_latest", "002_vacuum"]
        kinds = ["append", "read_latest", "vacuum"]
    for p in range(4):
        traced = p % 2 == 1
        for i, (n, k) in enumerate(zip(names, kinds)):
            r = {"pass": p, "traced": traced, "name": n, "kind": k,
                 "family": "etl", "sec": 0.1 * (i + 1), "ok": True,
                 "rows": 3, "layers": {"engine.busy_ms": 50.0,
                                       "engine.jobs": 2.0}}
            r["version"] = i
            if traced:
                r.update({"bytes_written": 100, "files_written": 2,
                          "disk_bytes": 300, "live_files": 2, "dv_files": 0,
                          "files_per_read": 2})
            recs["op"].append(r)
        recs["pass"].append({"pass": p, "traced": traced, "sec": 0.6,
                             "late_tasks": 0})
    return recs


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        names = {m["name"] for m in BENCH["end_to_end"]}
        self.assertEqual(set(run.end_to_end(fake_records("etl_batch"))), names)

    def test_per_layer_names_match_benchmark_json(self):
        names = {m["name"] for m in BENCH["per_layer"]}
        families = sorted(n[len("family."):-len("_s")] for n in names
                          if n.startswith("family."))
        for w in ("etl_batch", "lake_ingest"):
            with self.subTest(workload=w):
                got = run.per_layer(fake_records(w), families, None)
                self.assertEqual(set(got), names)

    def test_every_interactive_family_has_a_metric(self):
        spec = json.loads((HERE / "workloads.json").read_text())
        names = {m["name"] for m in BENCH["per_layer"]}
        for w in spec.values():
            for fam in w.get("queries", {}):
                self.assertIn(f"family.{fam}_s", names)

    def test_no_end_to_end_metric_reads_zero(self):
        values = run.end_to_end(fake_records("etl_batch"))
        self.assertTrue(all(v > 0 for v in values.values()))


class OutputCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE want AS SELECT * FROM (VALUES "
                         "(1, 'a', 0.5), (2, 'b', 1.25), (3, NULL, 2.0)) "
                         "t(k, s, x)")

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, sql):
        d = os.path.join(self.tmp.name, "res")
        os.makedirs(d, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' "
                         f"(FORMAT parquet)")
        return d

    def test_same_rows_in_any_order_pass(self):
        d = self.write("SELECT x, s, k FROM want ORDER BY k DESC")
        self.assertEqual(check.compare(self.con, d, "SELECT * FROM want"), [])

    def test_one_wrong_cell_is_caught(self):
        d = self.write("SELECT k, CASE WHEN k = 2 THEN 'B' ELSE s END AS s, x "
                       "FROM want")
        msgs = check.compare(self.con, d, "SELECT * FROM want")
        self.assertEqual(len(msgs), 1)
        self.assertIn("values", msgs[0])

    def test_missing_column_and_row_are_caught(self):
        d = self.write("SELECT k, s FROM want")
        self.assertIn("columns", check.compare(self.con, d,
                                               "SELECT * FROM want")[0])
        d = self.write("SELECT * FROM want WHERE k < 3")
        self.assertIn("rows", check.compare(self.con, d,
                                            "SELECT * FROM want")[0])


class LakeModel(unittest.TestCase):
    def test_model_answers_every_read(self):
        with tempfile.TemporaryDirectory() as d:
            ops = lake.make_plan(d, seed=7, initial_rows=200, batch_rows=20,
                                 cycles=2, groups=8, files=1)
            versions, v = {}, 0
            for i, (kind, _) in enumerate(ops):
                if kind in lake.WRITES:
                    versions[i] = v
                    v += kind != "vacuum"
            model = lake.Model(d, ops, versions)
            reads = {f"{i:03d}_{k}" for i, (k, _) in enumerate(ops)
                     if k in lake.READS}
            self.assertEqual(set(model.expected), reads | {"final"})
            n = model.con.execute(model.expected["final"]).fetchall()
            self.assertGreater(len(n), 0)

    def test_same_seed_same_plan(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            args = dict(initial_rows=50, batch_rows=10, cycles=1, groups=4,
                        files=1)
            lake.make_plan(a, 3, **args)
            lake.make_plan(b, 3, **args)
            for f in sorted(os.listdir(a)):
                self.assertEqual(Path(a, f).read_bytes(),
                                 Path(b, f).read_bytes(), f)


if __name__ == "__main__":
    unittest.main()
