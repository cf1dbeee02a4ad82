"""Self-tests of the benchmark's generator, checker and statistics.

    python3 -m unittest discover -s cmbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build, oracle, stats, workloads  # noqa: E402

DATA = build.default_data() or ""


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.generate(w, 7, cycles=3),
                             workloads.generate(w, 7, cycles=3))

    def test_other_seed_other_ops(self):
        for w in workloads.WORKLOADS:
            a = workloads.generate(w, 7, cycles=3)
            b = workloads.generate(w, 8, cycles=3)
            self.assertNotEqual(a[1], b[1])

    def test_whole_cycles_of_the_workload_templates(self):
        for w, templates in workloads.WORKLOADS.items():
            warm, ops, _ = workloads.generate(w, 1, cycles=2)
            n_warm = workloads.WARMUP_CYCLES[w] * len(templates)
            self.assertEqual(len(warm), n_warm)
            self.assertEqual(len(ops), 2 * len(templates))
            self.assertEqual([o[0] for o in warm + ops],
                             list(range(n_warm + 2 * len(templates))))

    def test_ingest_ops_touch_disjoint_paths(self):
        _, ops, _ = workloads.generate("dataflow", 3, cycles=20)
        seen = set()
        for o in ops:
            if o[1] == "ingest":
                touched = set(o[4].split(","))
                self.assertFalse(seen & touched)
                seen |= touched


class CompareTest(unittest.TestCase):
    rows = [("/customer/1", 10.5), ("/customer/2", 20.25),
            ("/customer/3", 30.0)]

    def test_equal_rows_pass(self):
        self.assertIsNone(oracle.compare(self.rows, True, list(self.rows)))
        self.assertIsNone(oracle.compare(self.rows, False, self.rows[::-1]))

    def test_dropped_row_fails(self):
        self.assertIsNotNone(oracle.compare(self.rows, False, self.rows[:-1]))

    def test_perturbed_value_fails(self):
        bad = [self.rows[0], ("/customer/2", 20.26), self.rows[2]]
        self.assertIsNotNone(oracle.compare(self.rows, False, bad))
        bad = [self.rows[0], ("/customer/2", 20.25 * (1 + 1e-7)), self.rows[2]]
        self.assertIsNotNone(oracle.compare(self.rows, False, bad))

    def test_order_counts_when_ordered(self):
        self.assertIsNotNone(oracle.compare(self.rows, True, self.rows[::-1]))

    def test_summation_order_noise_passes(self):
        got = [(r[0], r[1] * (1 + 1e-13)) for r in self.rows]
        self.assertIsNone(oracle.compare(self.rows, True, got))

    def test_qp_translation(self):
        self.assertEqual(
            oracle.qp_sql("mktsegment::BUILDING,-acctbal<<5.5,"
                          "[*mktsegment::A,*mktsegment::B]", "customer"),
            "c_mktsegment = 'BUILDING' AND NOT (c_acctbal <= 5.5) AND "
            "(c_mktsegment = 'A' OR c_mktsegment = 'B')")


@unittest.skipUnless(os.path.isfile(os.path.join(DATA, "customer.parquet")),
                     "store source tables not available")
class OracleTest(unittest.TestCase):
    """The checker, run on real expected outputs, rejects a dropped row and
    a perturbed value of an op's result."""

    @classmethod
    def setUpClass(cls):
        cls.orc = oracle.Oracle(DATA)

    def check(self, op, files=None):
        exp, ordered = self.orc.expected(op, files or {})
        self.assertTrue(exp, f"op {op} has an empty expected result")
        self.assertIsNone(oracle.compare(exp, ordered, exp))
        self.assertIsNotNone(oracle.compare(exp, ordered, exp[:-1]))
        first = list(exp[0])
        i = next(j for j, v in enumerate(first) if isinstance(v, float))
        first[i] += 0.01
        self.assertIsNotNone(oracle.compare(exp, ordered,
                                            [tuple(first)] + exp[1:]))

    def test_search_page(self):
        self.check([0, "search", "/customer", "mktsegment::BUILDING",
                    "-acctbal", "5", "10"])

    def test_stats_agg(self):
        self.check([0, "agg", "/customer", "acctbal>100", "stats",
                    "acctbal", "0"])

    def test_text_quality(self):
        self.check([0, "text", "100", "200"])

    def test_graph_paths(self):
        for op in ([0, "yg", "/customer", "mktsegment::BUILDING,acctbal>9900",
                    "<refCustomer|>refNation"],
                   [0, "gqp", "/customer", "mktsegment::BUILDING,acctbal>9900",
                    "<refCustomer"]):
            exp, ordered = self.orc.expected(op, {})
            self.assertTrue(exp)
            self.assertIsNone(oracle.compare(exp, ordered, exp[::-1]))
            self.assertIsNotNone(oracle.compare(exp, ordered, exp[1:]))
            self.assertIsNotNone(oracle.compare(
                exp, ordered, [("/customer/0",)] + exp[1:]))

    def test_ingest_readback(self):
        _, ops, files = workloads.generate("dataflow", 5, cycles=1)
        op = next(o for o in ops if o[1] == "ingest")
        exp, _ = self.orc.expected(op, files)
        self.assertEqual(len(exp), len(op[4].split(",")))
        updated = next(r for r in exp if r[3] is not None
                       and r[0].startswith("/customer/"))
        bad = [r if r is not updated else r[:3] + (r[3] + 1,) + r[4:]
               for r in exp]
        self.assertIsNotNone(oracle.compare(exp, False, bad))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.median([3, 1, 2, 4]), 2.5)

    def test_tail_needs_ten_samples_beyond(self):
        v = [float(i) for i in range(1, 101)]
        q, value, beyond = stats.tail_percentile(v)
        # p95 has only 5 samples above it; p90 is the highest with 10
        self.assertEqual((q, value, beyond), (90, 90.0, 10))
        q, _, beyond = stats.tail_percentile(v[:99])
        self.assertEqual(q, 75)
        self.assertGreaterEqual(beyond, 10)
        self.assertIsNone(stats.tail_percentile([1.0] * 15))
        self.assertIsNone(stats.tail_percentile(list(range(15))))

    def test_self_time_subtracts_children(self):
        spans = [{"start": 0, "end": 10_000_000_000, "parent": -1},
                 {"start": 1_000_000_000, "end": 4_000_000_000, "parent": 0},
                 {"start": 5_000_000_000, "end": 6_000_000_000, "parent": 0}]
        self.assertEqual(stats.self_times(spans), [6.0, 3.0, 1.0])


if __name__ == "__main__":
    unittest.main()
