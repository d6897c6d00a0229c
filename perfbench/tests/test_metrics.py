"""Tests for the benchmark's own code: statistics, latency attribution,
output digests and the verdict on a wrong output.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class Percentile(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertEqual(M.percentile(xs, 0), 1)
        self.assertEqual(M.percentile(xs, 100), 10)
        self.assertAlmostEqual(M.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(M.percentile(xs, 90), 9.1)

    def test_order_does_not_matter(self):
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)


class TailRule(unittest.TestCase):
    def test_counts_groups_not_samples(self):
        # 100 samples, but the ten largest all come from one trigger
        samples = [(float(i), i // 10) for i in range(90)] + [(1000.0 + i, 99) for i in range(10)]
        self.assertEqual(M.groups_beyond(samples, 90), 1)
        self.assertFalse(M.tail_supported(samples, 90))

    def test_ten_groups_beyond_is_enough(self):
        # 20 triggers; in each, the oldest rows wait longest
        samples = [(1.0, g) for g in range(20) for _ in range(8)] + \
            [(5.0 + g, g) for g in range(20) for _ in range(2)]
        self.assertEqual(M.groups_beyond(samples, 90), 10)
        self.assertTrue(M.tail_supported(samples, 90))

    def test_nine_groups_beyond_is_not(self):
        samples = [(1.0, g) for g in range(100)] + [(9.0, g) for g in range(9)]
        self.assertEqual(M.groups_beyond(samples, 90), 9)
        self.assertFalse(M.tail_supported(samples, 90))

    def test_no_samples_is_not_supported(self):
        self.assertFalse(M.tail_supported([], 50))


class Geomean(unittest.TestCase):
    def test_value(self):
        self.assertAlmostEqual(M.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(M.geomean([0.5, 2, 4, 0.25]), 1.0)

    def test_one_slow_item_does_not_dominate(self):
        self.assertLess(M.geomean([1, 1, 1, 100]), sum([1, 1, 1, 100]) / 4)

    def test_needs_positive_values(self):
        for bad in ([], [1, 0], [2, -1]):
            with self.assertRaises(ValueError):
                M.geomean(bad)


def progress(batch, start_iso, trigger_ms):
    return {"batchId": batch, "timestamp": start_iso,
            "durationMs": {"triggerExecution": trigger_ms}}


class Attribution(unittest.TestCase):
    def setUp(self):
        self.prog = [progress(0, "2026-01-01T00:00:00.000Z", 1000),
                     progress(1, "2026-01-01T00:00:01.000Z", 500)]
        self.t0 = M.parse_iso_ms("2026-01-01T00:00:00.000Z")

    def test_trigger_end_is_start_plus_duration(self):
        ends = M.trigger_ends(self.prog)
        self.assertEqual(ends[0] - self.t0, 1000)
        self.assertEqual(ends[1] - self.t0, 1500)

    def test_rows_take_their_trigger_end(self):
        rows = [(0, '{"id":7,"order_time":"x","original_amount":1,"converted_amount":2}'),
                (1, '{"id":8,"order_time":"x","original_amount":1}')]
        att = M.attribute_rows(rows, M.trigger_ends(self.prog))
        self.assertEqual([(i, b, e - self.t0, m) for i, b, e, m in att],
                         [(7, 0, 1000, True), (8, 1, 1500, False)])

    def test_row_of_unreported_trigger_is_an_error(self):
        with self.assertRaises(KeyError):
            M.attribute_rows([(5, '{"id":1}')], M.trigger_ends(self.prog))

    def test_latency_runs_from_due_time(self):
        # 1000 orders/s in 50 ms ticks from the first live order, id 100:
        # order 130 is due at the first tick at or after +30 ms
        self.assertEqual(M.due_ms(100, 100, 0.0, 1000, 50), 0.0)
        self.assertEqual(M.due_ms(130, 100, 0.0, 1000, 50), 50.0)
        self.assertEqual(M.due_ms(150, 100, 0.0, 1000, 50), 50.0)
        att = [(130, 4, 1050.0, True), (131, 4, 1050.0, False), (99, 4, 1050.0, True),
               (160, 5, 2000.0, True)]
        self.assertEqual(M.latency_samples(att, 100, 100, 150, 0.0, 1000, 50),
                         [(1000.0, 4)])


class Digest(unittest.TestCase):
    def test_lines_digest_ignores_order_not_content(self):
        a = ['{"id":1}', '{"id":2}']
        self.assertEqual(M.lines_digest(a), M.lines_digest(list(reversed(a))))
        self.assertNotEqual(M.lines_digest(a), M.lines_digest(['{"id":1}', '{"id":3}']))
        self.assertNotEqual(M.lines_digest(a), M.lines_digest(a + a))

    def test_rows_digest_ignores_row_and_column_order(self):
        d1 = M.rows_digest(["a", "b"], [(1, "x"), (2, "y")])
        d2 = M.rows_digest(["b", "a"], [("y", 2), ("x", 1)])
        self.assertEqual(d1, d2)

    def test_numbers_compare_by_value(self):
        d1 = M.rows_digest(["v"], [(2,), (1.5,)])
        d2 = M.rows_digest(["v"], [(2.0,), (decimal.Decimal("1.5"),)])
        self.assertEqual(d1, d2)

    def test_a_wrong_value_or_null_changes_the_digest(self):
        base = M.rows_digest(["v", "w"], [(1, None), (2, "a")])
        self.assertNotEqual(base, M.rows_digest(["v", "w"], [(1, None), (3, "a")]))
        self.assertNotEqual(base, M.rows_digest(["v", "w"], [(1, "∅"), (2, "a")]))
        self.assertNotEqual(base, M.rows_digest(["v", "x"], [(1, None), (2, "a")]))

    def test_per_id_mismatches(self):
        want = ['{"id":1,"a":1}', '{"id":2,"a":2}', '{"id":3,"a":3}']
        got = ['{"id":1,"a":1}', '{"id":2,"a":9}']
        self.assertEqual(M.per_id_mismatches(got, want), 2)


class WrongOutputFails(unittest.TestCase):
    """A deliberately wrong output must make the run incorrect and the
    exit code non-zero."""

    def test_stream_row_with_a_wrong_amount(self):
        with tempfile.TemporaryDirectory() as work:
            ref = ['{"id":0,"order_time":"t","original_amount":5,"converted_amount":10}',
                   '{"id":1,"order_time":"t","original_amount":4}',
                   '{"id":2,"order_time":"t","original_amount":1,"converted_amount":1}']
            with open(os.path.join(work, "reference.txt"), "w") as fh:
                fh.write("\n".join(ref) + "\n")
            rows = [(0, ref[0]), (1, ref[1])]
            self.assertEqual(run.check_stream(work, rows, heartbeat_id=2), 0)
            wrong = [(0, ref[0].replace("10", "11")), (1, ref[1])]
            self.assertEqual(run.check_stream(work, wrong, heartbeat_id=2), 1)
            missing = [(0, ref[0])]
            self.assertEqual(run.check_stream(work, missing, heartbeat_id=2), 1)

    def test_batch_query_with_a_wrong_row_exits_non_zero(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        names = run.WORKLOADS["batch_write"]
        with tempfile.TemporaryDirectory() as work:
            data = os.path.join(work, "data")
            gen.write(data, seed=1, sf=0.001)
            for q in names:
                os.makedirs(os.path.join(work, "check", q))
                pq.write_table(pa.table({"n": [len(q)]}),
                               os.path.join(work, "check", q, "part-0.parquet"))
            spans = [[1, "pass", 1000.0, 2000.0, 0, "timed"]]
            rec = {"workload": "batch_write", "jvm_start_ms": 0.0, "first_timed_ms": 500.0,
                   "peak_rss_kb": 1024, "canary_s": 0.5,
                   "query_times": [[0, q, 0.2, True] for q in names],
                   "oracle_sql": {q: f"SELECT {len(q)} AS n" for q in names},
                   "trace": {"spans": spans, "counters": {}}}
            result, _, _ = run.evaluate("batch_write", 0, rec, work, data, 0.1)
            self.assertTrue(result["correct"], result)
            self.assertEqual(result["failed"], 0)
            self.assertEqual(set(result["metrics"]), {k for k, _ in run.END_TO_END})

            rec["oracle_sql"][names[0]] = "SELECT -1 AS n"  # the injected wrong answer
            result, _, _ = run.evaluate("batch_write", 0, rec, work, data, 0.1)
            self.assertFalse(result["correct"])
            self.assertEqual(result["failed"], 1)
            self.assertEqual(result["metrics"], {})
            self.assertEqual(run.exit_code(result), 1)

    def test_a_query_that_throws_counts_as_failed(self):
        with tempfile.TemporaryDirectory() as work:
            data = os.path.join(work, "data")
            gen.write(data, seed=1, sf=0.001)
            names = run.WORKLOADS["batch_write"]
            rec = {"workload": "batch_write", "jvm_start_ms": 0.0, "first_timed_ms": 1.0,
                   "peak_rss_kb": 1, "canary_s": 0.5,
                   "query_times": [[0, names[0], 0.2, False]],
                   "oracle_sql": {}, "trace": {"spans": [], "counters": {}}}
            result, _, _ = run.evaluate("batch_write", 0, rec, work, data, 0.1)
            self.assertFalse(result["correct"])
            self.assertGreaterEqual(result["failed"], 1)
            self.assertEqual(run.exit_code(result), 1)


class Generator(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_other_tables(self):
        a, b, c = gen.tables(5, 0.001), gen.tables(5, 0.001), gen.tables(6, 0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["events"].equals(c["events"]))


class Contract(unittest.TestCase):
    def test_benchmark_json_matches_the_program(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.per_layer())


if __name__ == "__main__":
    unittest.main()
