"""The checker rejects perturbed answers.

    python3 perfbench/test_check.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import inputs  # noqa: E402

N_SYMBOLS = 20
N_CHUNKS = 10


def answer(q, rows_cents):
    """An answer as the JVM logs it: doubles for the dollar sums."""
    rows = [[s, b / 100.0, x / 100.0, n] for s, b, x, n in sorted(rows_cents)]
    return dict(q, rows=rows)


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.ev = inputs.make_events(3, 2000, N_SYMBOLS, probe_user=5, n_chunks=N_CHUNKS)
        cls.full = inputs.Prefixes(cls.ev, N_SYMBOLS)
        cls.live = inputs.Prefixes(cls.ev, N_SYMBOLS, N_CHUNKS)

    def test_correct_answers_pass(self):
        for q in ({"kind": "key", "keys": ["U000004"]},
                  {"kind": "multi_key", "keys": ["U000001", "U000007"]},
                  {"kind": "range", "lo": "U000003", "hi": "U000011"},
                  {"kind": "filtered_range", "lo": "U000000", "hi": "U000019", "tmpl": 2,
                   "n": 5000, "k": "U000002"}):
            a = answer(q, check.expected(q, self.full, 1, N_SYMBOLS))
            self.assertEqual(check.matching_prefix(a, self.full, N_SYMBOLS, 1, 1), 1)

    def test_wrong_sum_is_rejected(self):
        q = {"kind": "key", "keys": ["U000004"]}
        a = answer(q, check.expected(q, self.full, 1, N_SYMBOLS))
        a["rows"][0][1] += 0.01
        self.assertIsNone(check.matching_prefix(a, self.full, N_SYMBOLS, 1, 1))

    def test_missing_range_row_is_rejected(self):
        q = {"kind": "range", "lo": "U000003", "hi": "U000011"}
        rows = check.expected(q, self.full, 1, N_SYMBOLS)
        self.assertGreater(len(rows), 1)
        a = answer(q, sorted(rows)[1:])
        self.assertIsNone(check.matching_prefix(a, self.full, N_SYMBOLS, 1, 1))

    def test_predicate_is_evaluated_by_the_checker(self):
        q = {"kind": "filtered_range", "lo": "U000000", "hi": "U000019", "tmpl": 0,
             "n": 0, "k": ""}
        unfiltered = check.expected(dict(q, kind="range"), self.full, 1, N_SYMBOLS)
        filtered = check.expected(q, self.full, 1, N_SYMBOLS)
        self.assertTrue(0 < len(filtered) < len(unfiltered))
        self.assertIsNone(check.matching_prefix(answer(q, unfiltered), self.full, N_SYMBOLS, 1, 1))

    def test_stale_live_read_is_rejected(self):
        q = {"kind": "key", "keys": ["U000005"]}
        a = answer(q, check.expected(q, self.live, 3, N_SYMBOLS))
        self.assertEqual(check.matching_prefix(a, self.live, N_SYMBOLS, 3, 6), 3)
        # five chunks were committed before the read began: prefix 3 is stale
        self.assertIsNone(check.matching_prefix(a, self.live, N_SYMBOLS, 5, 6))

    def test_torn_live_read_is_rejected(self):
        q = {"kind": "multi_key", "keys": ["U000005", "U000006"]}
        old = {r for r in check.expected(q, self.live, 3, N_SYMBOLS) if r[0] == "U000005"}
        new = {r for r in check.expected(q, self.live, 8, N_SYMBOLS) if r[0] == "U000006"}
        self.assertIsNone(check.matching_prefix(answer(q, old | new), self.live, N_SYMBOLS, 0, 10))

    def test_oracle_row_out_of_place_is_rejected(self):
        with tempfile.TemporaryDirectory() as d:
            inputs.write_events(self.ev, os.path.join(d, "events.parquet"))
            sql = ("SELECT 'U' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS symbol, "
                   "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total, count(*) AS n "
                   "FROM events GROUP BY user_id")
            cols, n, fp = check.oracle(d, {"q": sql})["q"]
            import duckdb
            rows = duckdb.connect().execute(
                sql.replace("FROM events", f"FROM read_parquet('{d}/events.parquet')")).fetchall()
        names = ["symbol", "total", "n"]
        good = {"kind": "q", "columns": cols, "rows": n, "fingerprint": check.fingerprint(names, rows)}
        self.assertTrue(check.recompute_ok(good, {"q": (cols, n, fp)}))
        # swap one row's count with another's: same values, one row out of place
        moved = [list(r) for r in rows]
        j = next(i for i, r in enumerate(rows) if r[2] != rows[0][2])
        moved[0][2], moved[j][2] = moved[j][2], moved[0][2]
        bad = dict(good, fingerprint=check.fingerprint(names, moved))
        self.assertFalse(check.recompute_ok(bad, {"q": (cols, n, fp)}))


if __name__ == "__main__":
    unittest.main()
