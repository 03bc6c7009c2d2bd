"""Tests of the benchmark's own logic.

Run from the root of the repository:
  python3 -m unittest discover perfbench/tests
"""
import importlib.util
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402


class SupportedPercentileTest(unittest.TestCase):
    def test_ten_groups_beyond_is_enough(self):
        # 20 groups of 5 equal samples each: p50 is group 9's value and
        # groups 10..19 lie beyond it
        samples = [(float(g), g) for g in range(20) for _ in range(5)]
        self.assertEqual(benchlib.supported_percentile(samples, 50), 9.0)

    def test_nine_groups_beyond_is_not(self):
        samples = [(float(g), g) for g in range(19) for _ in range(5)]
        self.assertEqual(benchlib.percentile([v for v, _ in samples], 50), 9.0)
        self.assertIsNone(benchlib.supported_percentile(samples, 50))

    def test_cells_of_one_batch_count_once(self):
        # 1000 cells beyond p95, but they all share 3 batches
        samples = [(1.0, g) for g in range(100) for _ in range(10)]
        samples += [(5.0, 100 + g % 3) for g in range(1000)]
        self.assertIsNone(benchlib.supported_percentile(samples, 95))

    def test_p95_needs_two_hundred_groups(self):
        self.assertIsNone(benchlib.supported_percentile([(float(i), i) for i in range(199)], 95))
        self.assertIsNotNone(benchlib.supported_percentile([(float(i), i) for i in range(200)], 95))

    def test_nearest_rank(self):
        self.assertEqual(benchlib.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(benchlib.percentile([3, 1, 2, 4], 100), 4)
        self.assertEqual(benchlib.percentile([7], 95), 7)


class LwwModelTest(unittest.TestCase):
    """The six rows of the HAM table in FIXTURES.md section 2."""

    SYS = 2000.0
    ROWS = [
        ("never-seen", None, ("a", 1000.0), "update", ("a", 1000.0)),
        ("too-future", ("a", 1000.0), ("b", 3000.0), "defer", ("a", 1000.0)),
        ("older-historical", ("a", 1000.0), ("b", 500.0), "discard", ("a", 1000.0)),
        ("newer", ("a", 1000.0), ("b", 1500.0), "update", ("b", 1500.0)),
        ("same-keep", ("b", 1000.0), ("a", 1000.0), "keep", ("b", 1000.0)),
        ("same-update", ("a", 1000.0), ("b", 1000.0), "update", ("b", 1000.0)),
    ]

    def test_resolve(self):
        for case, existing, incoming, want, _ in self.ROWS:
            with self.subTest(case=case):
                self.assertEqual(benchlib.resolve(existing, incoming, self.SYS), want)

    def test_model_applies_each_row(self):
        for case, existing, incoming, outcome, after in self.ROWS:
            with self.subTest(case=case):
                m = benchlib.LwwModel()
                if existing is not None:
                    m.put("k", existing[0], existing[1], self.SYS)
                self.assertEqual(m.put("k", incoming[0], incoming[1], self.SYS), outcome)
                self.assertEqual(m.cells.get("k"), after)

    def test_deferred_write_applies_once_due(self):
        m = benchlib.LwwModel()
        m.put("k", "a", 1000.0, 2000.0)
        m.put("k", "b", 3000.0, 2000.0)  # deferred: beyond machine time
        m.put("k", "c", 2500.0, 2600.0)  # newer than "a", applies now
        self.assertEqual(m.cells["k"], ("c", 2500.0))
        m.settle(3000.0)
        self.assertEqual(m.cells["k"], ("b", 3000.0))
        self.assertEqual(m.final(), {"k": ("b", 3000.0)})

    def test_final_state_is_order_independent(self):
        writes = [("x", 5.0), ("y", 7.0), ("z", 7.0), ("w", 1.0), ("v", 9.0)]
        finals = set()
        for shift in range(len(writes)):
            m = benchlib.LwwModel()
            for value, state in writes[shift:] + writes[:shift]:
                m.put("k", value, state, 6.0)
            finals.add(m.final()["k"])
        self.assertEqual(finals, {("v", 9.0)})

    def test_schedule_runs_every_branch(self):
        puts, subs = benchlib.make_schedule(7, 10000.0, 110, 100)
        kinds = {p["kind"] for p in puts}
        self.assertEqual(kinds, {"new", "stale", "tie", "future"})
        self.assertEqual(puts, benchlib.make_schedule(7, 10000.0, 110, 100)[0])
        self.assertGreater(len(subs), 200)
        outcomes = set()
        m = benchlib.LwwModel()
        for p in puts:
            for f in p["fields"]:
                outcomes.add(m.put((p["soul"], f), f"i{p['idx']}", p["state_rel"], max(p["t_ms"], 0.0)))
        self.assertEqual(outcomes, {"update", "defer", "discard", "keep"})

    def test_tail_states_trail_its_start(self):
        # tail puts are sent once the open loop is over: none may be deferred
        puts, _ = benchlib.make_schedule(7, 10000.0, 110, 500)
        tail = [p["state_rel"] for p in puts if p["phase"] == "tail"]
        self.assertEqual(len(tail), 500)
        self.assertLessEqual(max(tail), 10000.0)
        self.assertEqual(tail, sorted(tail))


PARITY = os.path.join(ROOT, "tools", "parity.py")


@unittest.skipUnless(os.path.exists(PARITY), "tools/parity.py is not in this checkout")
class DigestMatchesParityTest(unittest.TestCase):
    """The result digest agrees with tools/parity.py on one small query."""

    QUERY = "q5_region_volume"

    def setUp(self):
        import duckdb
        spec = importlib.util.spec_from_file_location("parity", PARITY)
        self.parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.parity)
        with open(os.path.join(BENCH, "oracle", "oracle_sql.json")) as f:
            self.sql = json.load(f)[self.QUERY]
        with open(os.path.join(BENCH, "oracle", "digests.json")) as f:
            self.want = json.load(f)[self.QUERY]
        self.data = os.path.join(BENCH, "data")
        self.con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.tmp = tempfile.TemporaryDirectory()
        with open(os.path.join(self.tmp.name, "oracle_sql.json"), "w") as f:
            json.dump({self.QUERY: self.sql}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, sql):
        d = os.path.join(self.tmp.name, self.QUERY)
        os.makedirs(d, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{d}/part-0.parquet' (FORMAT parquet)")
        return self.con.sql(f"SELECT * FROM '{d}/*.parquet'").df()

    def run_parity(self):
        with redirect_stdout(io.StringIO()):
            return self.parity.main(self.data, self.tmp.name)

    def test_same_result_passes_both(self):
        df = self.write_result(self.sql)
        self.assertEqual(self.run_parity(), 0)
        digest, rows = benchlib.frame_digest(df)
        self.assertEqual((digest, rows), (self.want["digest"], self.want["rows"]))

    def test_changed_value_fails_both(self):
        # one nation's revenue off by one
        changed = (f"SELECT n_name, revenue_c4 + CASE WHEN n_name = min(n_name) OVER () "
                   f"THEN 1 ELSE 0 END AS revenue_c4 FROM ({self.sql})")
        df = self.write_result(changed)
        self.assertEqual(self.run_parity(), 1)
        self.assertEqual(len(df), self.want["rows"])
        self.assertNotEqual(benchlib.frame_digest(df)[0], self.want["digest"])


if __name__ == "__main__":
    unittest.main()
