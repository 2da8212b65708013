"""Tests for the benchmark's own logic. Run: python3 -m unittest discover graftbench"""
import datetime
import decimal
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib as bl  # noqa: E402


class ResultCompareTest(unittest.TestCase):
    COLS = ["b", "a"]
    ROWS = [[1, 2.5, ], [3, None], [2, 0.1 + 0.2]]

    def test_row_order_does_not_matter(self):
        a = bl.canon_result(self.COLS, self.ROWS)
        b = bl.canon_result(self.COLS, list(reversed(self.ROWS)))
        self.assertEqual(a, b)
        self.assertTrue(bl.same_result(a, b)[0])

    def test_column_order_does_not_matter(self):
        a = bl.canon_result(["b", "a"], [[1, "x"]])
        b = bl.canon_result(["a", "b"], [["x", 1]])
        self.assertEqual(a, b)

    def test_content_matters(self):
        a = bl.canon_result(self.COLS, self.ROWS)
        b = bl.canon_result(self.COLS, self.ROWS[:2] + [[2, 0.4]])
        self.assertFalse(bl.same_result(a, b)[0])

    def test_engine_types_meet(self):
        # Spark side: JSON values as the runner writes them; DuckDB side: Python types.
        spark = bl.canon_result(["d", "m", "n", "t"],
                                [["2024-01-02", {"key": ["b", "a"], "value": [2, 1]}, 3.0,
                                  "2024-01-01 00:00:01.500000"]])
        duck = bl.canon_result(["d", "m", "n", "t"],
                               [[datetime.date(2024, 1, 2), {"key": ["a", "b"], "value": [1, 2]},
                                 decimal.Decimal("3.00"), datetime.datetime(2024, 1, 1, 0, 0, 1, 500000)]])
        self.assertTrue(bl.same_result(spark, duck)[0])

    def test_float_noise_is_tolerated_but_not_real_differences(self):
        a = bl.canon_result(["x"], [[0.1 + 0.2], [1.0]])
        b = bl.canon_result(["x"], [[0.3], [1.0]])
        c = bl.canon_result(["x"], [[0.3001], [1.0]])
        self.assertTrue(bl.same_result(a, b)[0])
        self.assertFalse(bl.same_result(a, c)[0])

    def test_small_doubles_compared_relative_not_rounded(self):
        # both round to 0.0 at 6 decimals; they still differ by a factor of 4
        a = bl.canon_result(["x"], [[1e-8]])
        b = bl.canon_result(["x"], [[4e-8]])
        self.assertFalse(bl.same_result(a, b)[0])
        self.assertTrue(bl.same_result(a, bl.canon_result(["x"], [[1e-8 * (1 + 1e-12)]]))[0])

    def test_row_count_and_columns_checked(self):
        a = bl.canon_result(["x"], [[1], [1]])
        self.assertFalse(bl.same_result(a, bl.canon_result(["x"], [[1]]))[0])
        self.assertFalse(bl.same_result(a, bl.canon_result(["y"], [[1], [1]]))[0])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(bl.percentile(xs, 50), 50)
        self.assertEqual(bl.percentile(xs, 90), 90)
        self.assertEqual(bl.beyond(xs, 90), 10)
        self.assertEqual(bl.percentile([5.0], 90), 5.0)

    def test_observed_value_and_unsorted_input(self):
        xs = [0.3, 0.1, 0.9, 0.5]
        self.assertIn(bl.percentile(xs, 90), xs)
        self.assertEqual(bl.percentile(xs, 50), 0.3)

    def test_spread_is_iqr_over_median(self):
        self.assertEqual(bl.spread([10.0] * 5), 0.0)
        xs = [9.0, 10.0, 10.0, 11.0, 10.0, 9.5, 10.5, 10.0, 9.8, 10.2]
        # statistics.quantiles, exclusive method: q1 = 9.725, q3 = 10.275
        self.assertAlmostEqual(bl.spread(xs), 0.055, places=9)


class PageGeneratorTest(unittest.TestCase):
    def test_same_seed_same_pages(self):
        self.assertEqual(bl.gen_pages(7, 120, 5), bl.gen_pages(7, 120, 5))

    def test_other_seed_other_pages(self):
        self.assertNotEqual(bl.gen_pages(7, 120, 5)[0], bl.gen_pages(8, 120, 5)[0])

    def test_planted_failures(self):
        pages, planted = bl.gen_pages(3, 200, 4, error_every=40)
        missing = [p for p, v in planted.items() if v is None]
        self.assertEqual(len(missing), 5)        # one per 40 pages
        self.assertEqual(sorted(set(planted) - set(pages)), missing)
        exp = bl.expected(planted, 1, 200)
        self.assertEqual(exp["error_pages"], missing)
        self.assertEqual(exp["listings"], 195 * 4)

    def test_expected_counts_match_the_html(self):
        pages, planted = bl.gen_pages(11, 30, 6)
        exp = bl.expected(planted, 1, 30)
        html = "".join(pages.values())
        self.assertEqual(html.count('class="listing-card__content"'), exp["listings"])
        self.assertEqual(html.count('class="listing-card__location__geo"'), exp["barrio_present"])
        rooms = sum(int(x.split('"')[0]) for x in html.split('data-test="bedrooms" content="')[1:])
        self.assertEqual(rooms, exp["sum_rooms"])

    def test_batches_partition_the_totals(self):
        _, planted = bl.gen_pages(5, 80, 3)
        whole = bl.expected(planted, 1, 80)
        halves = [bl.expected(planted, 1, 40), bl.expected(planted, 41, 40)]
        for k in ("listings", "error_pages", "sum_rooms", "sum_valor"):
            self.assertEqual(whole[k], halves[0][k] + halves[1][k])


class FixtureTablesTest(unittest.TestCase):
    """The generator reproduces the seed-42 fixture family of FIXTURES.md
    section B; the pinned figures below were read from those tables at
    sf0.001, so a moved or added draw shows here."""

    def test_row_counts(self):
        self.assertEqual(bl.table_sizes(0.01), {
            "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
            "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500})
        sizes = bl.table_sizes(0.1)
        self.assertEqual((sizes["lineitem"], sizes["documents"], sizes["embeddings"]),
                         (600000, 5000, 2000))

    def test_pinned_values_at_sf0001(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            bl.gen_tables(d, 0.001)
            t = {n: pq.read_table(os.path.join(d, n + ".parquet")).to_pydict()
                 for n in ("customer", "part", "orders", "lineitem", "events", "documents", "embeddings")}
        self.assertEqual(len(t["lineitem"]["l_orderkey"]), 6000)
        self.assertEqual(sum(t["lineitem"]["l_orderkey"]), 4489525)
        self.assertAlmostEqual(sum(t["lineitem"]["l_extendedprice"]), 317364757.31, places=2)
        self.assertEqual(t["customer"]["c_mktsegment"][:5],
                         ["FURNITURE", "FURNITURE", "MACHINERY", "BUILDING", "MACHINERY"])
        self.assertEqual([f"{a}/{b}" for a, b in zip(t["part"]["p_name"][:3], t["part"]["p_type"][:3])],
                         ["cold widget/ECONOMY", "small widget/ECONOMY", "large bolt/PROMO"])
        self.assertEqual("".join(t["orders"]["o_orderstatus"][:8]), "FFPOPOFF")
        self.assertEqual(t["events"]["event_type"][:5], ["error", "signup", "purchase", "purchase", "error"])
        self.assertEqual(t["events"]["ts"][4], datetime.datetime(2024, 1, 1, 2, 22, 23, 261694))
        self.assertAlmostEqual(sum(t["events"]["value"][:5]), 370.84, places=2)
        self.assertEqual(sum(1 for x in t["documents"]["text"] if x.endswith(" dup")), 25)
        self.assertEqual(sum(t["documents"]["n_chars"]), 153156)
        self.assertEqual(sum(t["embeddings"]["label"]), 2268)


if __name__ == "__main__":
    unittest.main()
