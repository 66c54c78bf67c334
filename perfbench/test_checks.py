"""Planted-fault tests for the benchmark's output checks.

    python3 perfbench/test_checks.py      (from the root of a graft checkout)

Each check gets a result that agrees with its reference and must pass it,
then perturbed copies (one cell changed, one row dropped, one row
duplicated, one pane sum off by one, and for the stream a pane after its
horizon and state left behind) and must report every one as a mismatch.
A run whose outputs were never written (a query that throws, a stream
that stops) must not report itself correct.
"""
import copy
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import fixtures  # noqa: E402
import run  # noqa: E402


COLS = ["k", "n", "x"]
ROWS = [("a", 1, 0.5), ("b", 2, 1.25), ("c", 3, None)]


def cell_changed(rows):
    r = list(rows)
    r[1] = (r[1][0], r[1][1] + 1) + tuple(r[1][2:])
    return r


def row_dropped(rows):
    return list(rows)[:-1]


def row_duplicated(rows):
    return list(rows) + [rows[0]]


class CatalogCheck(unittest.TestCase):
    def test_agreeing_result_passes(self):
        self.assertIsNone(checks.compare(COLS, ROWS, list(reversed(COLS)),
                                         [tuple(reversed(r)) for r in reversed(ROWS)]))

    def test_every_perturbation_is_a_mismatch(self):
        for perturb in (cell_changed, row_dropped, row_duplicated):
            with self.subTest(perturb.__name__):
                self.assertIsNotNone(checks.compare(COLS, perturb(ROWS), COLS, ROWS))

    def test_renamed_column_is_a_mismatch(self):
        self.assertIsNotNone(checks.compare(["k", "n", "y"], ROWS, COLS, ROWS))

    def test_against_duckdb_on_parquet(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "fx"))
            pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                     "r_name": ["A", "B", "C"]}),
                           os.path.join(d, "fx", "region.parquet"))
            con = checks.duck(os.path.join(d, "fx"))
            sql = "SELECT r_name, r_regionkey * 2 AS k2 FROM region"
            good = [("A", 0), ("B", 2), ("C", 4)]
            for name, rows, ok in [("good", good, True), ("cell", cell_changed(good), False),
                                   ("drop", row_dropped(good), False),
                                   ("dup", row_duplicated(good), False)]:
                out = os.path.join(d, name)
                os.makedirs(out)
                pq.write_table(pa.table({"r_name": [r[0] for r in rows],
                                         "k2": pa.array([r[1] for r in rows], pa.int32())}),
                               os.path.join(out, "part-0.parquet"))
                with self.subTest(name):
                    self.assertEqual(checks.catalog(con, "t", sql, out) is None, ok)


class UncheckedOutput(unittest.TestCase):
    def test_catalog_query_without_output_is_not_correct(self):
        with tempfile.TemporaryDirectory() as d:
            rec = {"check_writes": {q: "failed: thrown" for q in run.QUERIES},
                   "oracle_sql": {}, "out": d}
            failed, correct = run.check_catalog(rec, d)
        self.assertEqual(failed, len(run.QUERIES))
        self.assertFalse(correct)

    def test_stopped_stream_is_not_correct(self):
        failed, correct, _ = run.check_stream({"ok": False, "batches": []}, None, {"n_files": 8})
        self.assertEqual(failed, 8)
        self.assertFalse(correct)


class StreamCheck(unittest.TestCase):
    """Panes are simulated from the generated files with the trigger
    engine's documented rules, which the real engine's output must match."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        p = dict(fixtures.STREAM, warm_files=4, events_per_file=300, keys=20)
        cls.meta = fixtures.stream(os.path.join(cls.tmp.name, "in"), 7, 6, p)
        cls.expected = checks.stream_expected(os.path.join(cls.tmp.name, "in"), cls.meta)
        rows, wm, want = cls.expected
        W, L = cls.meta["window_ms"], cls.meta["lateness_ms"]
        # one final pane per window, written when the watermark first
        # reaches the horizon, preceded by one early pane
        cls.panes = []
        for (k, ws), (s, n) in want.items():
            b = next((i for i, m in enumerate(wm) if m >= ws + W + L), len(wm) - 1)
            cls.panes.append(dict(k=k, wstart=ws, value=max(0, s - 1), pane_index=0, batch=0))
            cls.panes.append(dict(k=k, wstart=ws, value=s, pane_index=1, batch=b))
        cls.batches = [dict(batch_id=i, input_rows=n, state_rows=0 if i == len(rows) - 1 else 5)
                       for i, n in enumerate(rows)]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, panes=None, batches=None):
        return checks.stream(self.expected, self.panes if panes is None else panes,
                             self.batches if batches is None else batches, self.meta)

    def test_generator_plants_late_data_on_both_sides_of_the_horizon(self):
        self.assertGreater(self.meta["late_within"], 0)
        self.assertGreater(self.meta["late_beyond"], 0)

    def test_agreeing_output_passes(self):
        self.assertEqual(self.check(), [])

    def last_pane(self, panes):
        return max((i for i, p in enumerate(panes) if p["pane_index"] == 1))

    def test_pane_sum_off_by_one(self):
        panes = copy.deepcopy(self.panes)
        panes[self.last_pane(panes)]["value"] += 1
        self.assertTrue(self.check(panes))

    def test_pane_cell_changed(self):
        panes = copy.deepcopy(self.panes)
        panes[self.last_pane(panes)]["k"] = "k-none"
        self.assertTrue(self.check(panes))

    def test_pane_dropped(self):
        panes = copy.deepcopy(self.panes)
        del panes[self.last_pane(panes)]
        self.assertTrue(self.check(panes))

    def test_pane_duplicated(self):
        panes = copy.deepcopy(self.panes)
        panes.append(dict(panes[0]))
        self.assertTrue(self.check(panes))

    def test_pane_after_horizon(self):
        panes = copy.deepcopy(self.panes)
        early = min((p for p in panes if p["pane_index"] == 1), key=lambda p: p["batch"])
        early["batch"] = len(self.expected[0]) + 1
        self.assertTrue(self.check(panes))

    def test_state_left_after_flush(self):
        batches = copy.deepcopy(self.batches)
        batches[-1]["state_rows"] = 1
        self.assertTrue(self.check(batches=batches))

    def test_batch_read_other_file(self):
        batches = copy.deepcopy(self.batches)
        batches[1]["input_rows"] += 1
        self.assertTrue(self.check(batches=batches))


if __name__ == "__main__":
    unittest.main()
