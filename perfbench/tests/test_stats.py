"""Tests of the benchmark's metric code.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 95), 10)
        self.assertEqual(stats.percentile(xs, 10), 1)
        self.assertEqual(stats.percentile(xs, 0), 1)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), 2.0)

    def test_single_and_empty(self):
        self.assertEqual(stats.percentile([7.5], 95), 7.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class FingerprintTest(unittest.TestCase):
    def test_stable_and_short(self):
        t = "HashAggregate(Exchange(HashAggregate(FileScan parquet)))"
        self.assertEqual(stats.fingerprint(t), stats.fingerprint(t))
        self.assertEqual(len(stats.fingerprint(t)), 12)

    def test_any_operator_change_changes_it(self):
        a = "SortMergeJoin(Sort(Exchange(Scan)),Sort(Exchange(Scan)))"
        b = "BroadcastHashJoin(Scan,BroadcastExchange(Scan))"
        self.assertNotEqual(stats.fingerprint(a), stats.fingerprint(b))

    def test_missing_plan(self):
        self.assertIsNone(stats.fingerprint(None))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(0, 1)], 2, 5), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "query", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "kind": "job", "start": 2.0, "end": 5.0},
            {"id": 3, "parent": 1, "kind": "job", "start": 4.0, "end": 8.0},
        ]
        self.assertEqual(stats.self_times(spans), {"query": 0.004, "job": 0.007})


def stream(batches, sched, add, block):
    return {"batches": batches, "sched_ms": sched, "add_ms": add, "block": block}


def batch(start_off, end_off, start_ms, end_ms):
    return {"startOffset": start_off, "endOffset": end_off, "startMs": start_ms, "endMs": end_ms}


class StreamTest(unittest.TestCase):
    def test_latency_runs_to_end_of_processing_batch(self):
        s = stream([batch(-1, 1, 100, 300), batch(1, 2, 300, 500)],
                   sched=[50, 60, 250], add=[55, 65, 255], block=[0, 1, 2])
        lat, lost = stats.event_latencies(s, window_from_ms=0)
        self.assertEqual(lat, [0.25, 0.24, 0.25])
        self.assertEqual(lost, 0)

    def test_window_and_unprocessed_events(self):
        s = stream([batch(-1, 0, 100, 300)], sched=[50, 400], add=[50, 400], block=[0, 1])
        lat, lost = stats.event_latencies(s, window_from_ms=60)
        self.assertEqual((lat, lost), ([], 1))

    def test_backlog_counts_added_not_yet_taken(self):
        s = stream([batch(-1, 0, 10, 20), batch(0, 2, 30, 40)],
                   sched=[0, 0, 25, 26], add=[0, 0, 25, 26], block=[0, 0, 1, 2])
        self.assertEqual(stats.backlog_series(s), [(10, 2), (30, 2)])

    def test_backlog_growth(self):
        steady = [(i, 20 + (i % 3)) for i in range(12)]
        growing = [(i, 20 + 15 * i) for i in range(12)]
        self.assertFalse(stats.backlog_grew(steady, rate=40))
        self.assertTrue(stats.backlog_grew(growing, rate=40))
        # doubling from a tiny base is not growth
        self.assertFalse(stats.backlog_grew([(i, 1 if i < 6 else 4) for i in range(12)], rate=40))
        self.assertFalse(stats.backlog_grew(growing[:5], rate=40))

    def test_generator_lateness(self):
        s = stream([], sched=[0, 100, 200], add=[1, 130, 200], block=[0, 1, 2])
        self.assertEqual(stats.generator_lateness_ms(s, 50), [30, 0])


class CheckTest(unittest.TestCase):
    REPORT = "\n".join([
        "[PASS] q03_star_join: OK",
        "[INFO] q46_minhash_neardup: rows-only (24 rows)",
        "[FAIL] q75_ivf_ann: ROWCOUNT mismatch: spark=249 duck=250",
        "",
        "2/3 ok",
    ])

    def test_parse(self):
        r = stats.parse_oracle_report(self.REPORT)
        self.assertEqual(r["q03_star_join"], ("PASS", "OK"))
        self.assertEqual(r["q46_minhash_neardup"][0], "INFO")
        self.assertEqual(r["q75_ivf_ann"][0], "FAIL")
        self.assertEqual(len(r), 3)

    def test_verdicts(self):
        r = stats.parse_oracle_report(self.REPORT)
        names = ["q03_star_join", "q46_minhash_neardup", "q75_ivf_ann", "q13_asof_join"]
        ran = {"q03_star_join": True, "q46_minhash_neardup": True, "q75_ivf_ann": True,
               "q13_asof_join": True}
        v = stats.query_verdicts(names, r, ran)
        self.assertTrue(v["q03_star_join"]["ok"])
        self.assertTrue(v["q46_minhash_neardup"]["ok"])
        self.assertFalse(v["q75_ivf_ann"]["ok"])
        self.assertFalse(v["q13_asof_join"]["ok"])
        self.assertEqual(v["q13_asof_join"]["oracle"], "MISSING")

    def test_a_query_that_threw_fails_even_if_its_output_matched(self):
        r = stats.parse_oracle_report("[PASS] q03_star_join: OK")
        v = stats.query_verdicts(["q03_star_join"], r, {"q03_star_join": False})
        self.assertFalse(v["q03_star_join"]["ok"])


if __name__ == "__main__":
    unittest.main()
