"""The benchmark's own test: at sf0.001, each workload's real outputs pass its
checker, and the same outputs with one dropped row, one stale value or one
duplicated key are rejected.

    python3 perfbench/test_checks.py      # from the repository root, ~2 min
"""

import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import run  # noqa: E402

SEED = 1


def run_kept(workload):
    """Run one workload at sf0.001 and keep its scratch directory."""
    with contextlib.redirect_stdout(io.StringIO()) as out:
        rc = run.main(["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                       "--sf", "0.001", "--keep"])
    assert rc == 0, f"{workload} run failed"
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    return result, os.path.join(os.getcwd(), ".bench_run", f"{workload}-{SEED}-{os.getpid()}")


def edit_parquet(out, name, fn):
    d = os.path.join(out, name)
    paths = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
    t = pa.concat_tables([pq.read_table(os.path.join(d, p)) for p in paths])
    for p in paths:
        os.remove(os.path.join(d, p))
    pq.write_table(fn(t), os.path.join(d, "part-0.parquet"))


def drop_first(t):
    return t.slice(1)


def duplicate_first(t):
    return pa.concat_tables([t, t.slice(0, 1)])


def bump(column):
    def fn(t):
        i = t.schema.get_field_index(column)
        vals = t[column].to_pylist()
        vals[0] = vals[0] + 1.0
        return t.set_column(i, column, pa.array(vals, t.schema.field(i).type))
    return fn


def add_current_duplicate(t):
    current = t.filter(pc.equal(t["is_current"], True))
    return pa.concat_tables([t, current.slice(0, 1)])


def edit_results(out, fn):
    p = os.path.join(out, "results.jsonl")
    with open(p) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    fn(rows)
    with open(p, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in rows))


def first(rows, op, pred=lambda r: True):
    return next(r for r in rows if r["op"] == op and pred(r))


class CheckerTest(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        for w in check.CHECKS:
            cls.runs[w] = run_kept(w)

    @classmethod
    def tearDownClass(cls):
        for _, scratch in cls.runs.values():
            shutil.rmtree(scratch, ignore_errors=True)

    def verdict(self, workload, corrupt=None):
        _, scratch = self.runs[workload]
        with open(os.path.join(scratch, "inputs", "manifest.json")) as f:
            man = json.load(f)
        with tempfile.TemporaryDirectory(dir=scratch) as tmp:
            out = shutil.copytree(os.path.join(scratch, "out"), os.path.join(tmp, "out"))
            with open(os.path.join(out, "summary.json")) as f:
                summary = json.load(f)
            if corrupt:
                corrupt(out)
            return check.CHECKS[workload](man, out, summary, tmp)

    def rejects(self, workload, corrupt):
        self.assertTrue(self.verdict(workload, corrupt), "corrupted output passed the check")

    def test_outputs_pass(self):
        for w, (result, _) in self.runs.items():
            self.assertTrue(result["correct"], w)
            self.assertEqual(self.verdict(w), [], w)

    def test_medallion_dropped_row(self):
        self.rejects("medallion_stream", lambda o: edit_parquet(o, "silver_events", drop_first))
        self.rejects("medallion_stream", lambda o: edit_parquet(o, "bronze_orders", drop_first))

    def test_medallion_stale_value(self):
        self.rejects("medallion_stream", lambda o: edit_parquet(o, "silver_events", bump("value")))
        self.rejects("medallion_stream",
                     lambda o: edit_parquet(o, "gold_user_activity", bump("total_value")))

    def test_medallion_duplicated_key(self):
        self.rejects("medallion_stream", lambda o: edit_parquet(o, "silver_events", duplicate_first))
        self.rejects("medallion_stream",
                     lambda o: edit_parquet(o, "dim_customer", add_current_duplicate))

    def test_service_dropped_row(self):
        self.rejects("table_service", lambda o: edit_parquet(o, "final", drop_first))

        def drop_change(rows):
            first(rows, "cdf", lambda r: r["rows"])["rows"].pop()
        self.rejects("table_service", lambda o: edit_results(o, drop_change))

    def test_service_stale_value(self):
        self.rejects("table_service", lambda o: edit_parquet(o, "final", bump("o_totalprice")))

        def stale_read(rows):
            r = first(rows, "point_read", lambda r: r["rows"])
            r["rows"][0][1] += 1.0
        self.rejects("table_service", lambda o: edit_results(o, stale_read))

        def stale_version(rows):
            first(rows, "time_travel")["checksum"][2] += 1
        self.rejects("table_service", lambda o: edit_results(o, stale_version))

    def test_service_duplicated_key(self):
        self.rejects("table_service", lambda o: edit_parquet(o, "final", duplicate_first))


if __name__ == "__main__":
    unittest.main()
