"""Each correctness check passes on a good observation and fails on a
corrupted one.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402


class EtlCycleCheck(unittest.TestCase):
    def setUp(self):
        self.expected = gen.expected_batch_counts(gen.batch_events(1, 10_000))
        e = self.expected
        good = [e["total"], e["late"], e["dq_failures"], e["drift"], e["total"], 1]
        self.observed = {"cycles": [list(good), list(good)]}

    def test_good(self):
        self.assertEqual(checks.etl_cycle(self.observed, self.expected), 0)

    def test_corrupted(self):
        for field, delta in ((1, 1), (2, -1), (3, 1), (4, -1), (5, -1)):
            bad = copy.deepcopy(self.observed)
            bad["cycles"][1][field] += delta
            self.assertEqual(checks.etl_cycle(bad, self.expected), 1, field)


class IngestStreamCheck(unittest.TestCase):
    def setUp(self):
        self.expected = gen.expected_stream_counts(1, 5000)
        self.observed = {"offered": 5000, "sink_rows": 5000, "distinct_keys": 5000,
                         "late": self.expected["late"],
                         "quarantined": self.expected["dq_failures"]}

    def test_good(self):
        self.assertEqual(checks.ingest_stream(self.observed, self.expected), 0)

    def test_corrupted(self):
        corruptions = {
            "duplicate": {"sink_rows": 5001},
            "lost": {"sink_rows": 4999, "distinct_keys": 4999},
            "late": {"late": self.expected["late"] - 1},
            "quarantine": {"quarantined": self.expected["dq_failures"] + 1},
        }
        for name, change in corruptions.items():
            bad = dict(self.observed, **change)
            self.assertGreater(checks.ingest_stream(bad, self.expected), 0, name)


class QuerySuiteCheck(unittest.TestCase):
    def setUp(self):
        self.expected = checks.load_expected(
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "expected_queries.tsv"))
        self.observed = {"queries": {n: list(v) for n, v in list(self.expected.items())[:5]}}

    def test_recorded_for_every_query(self):
        self.assertEqual(len(self.expected), 186)

    def test_good(self):
        self.assertEqual(checks.query_suite(self.observed, self.expected), 0)

    def test_corrupted(self):
        name = next(iter(self.observed["queries"]))
        for i, value in ((0, "0"), (1, "123")):
            bad = copy.deepcopy(self.observed)
            bad["queries"][name][i] = value
            self.assertEqual(checks.query_suite(bad, self.expected), 1)


if __name__ == "__main__":
    unittest.main()
