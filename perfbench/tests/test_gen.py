"""Generator tests: one seed gives byte-identical inputs, and the planted
anomaly shares follow graft.CustomerEvents' injection rules.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for name, write in (("e", lambda s, p: gen.write_batch_events(s, 5000, p)),
                                ("s", lambda s, p: gen.write_stream_payloads(s, 5000, p))):
                a, b, c = (os.path.join(d, f"{name}{i}") for i in range(3))
                write(7, a)
                write(7, b)
                write(8, c)
                self.assertEqual(_bytes(a), _bytes(b))
                self.assertNotEqual(_bytes(a), _bytes(c))


class PlantedShares(unittest.TestCase):
    N = 200_000

    def test_batch_rules(self):
        t = gen.batch_events(3, self.N)
        ids = t.column("event_id").to_numpy()
        counts = gen.expected_batch_counts(t)
        # late: backdated 1-24 h every 20th id or 26 h every 103rd, unless
        # the id is a +48 h future event (every 61st)
        late = ((ids % 20 == 0) | (ids % 103 == 0)) & (ids % 61 != 0)
        self.assertEqual(counts["late"], int(late.sum()))
        self.assertAlmostEqual(counts["late"] / self.N, 0.0574, delta=0.002)
        self.assertEqual(counts["drift"], int((ids % 100 == 0).sum()))
        self.assertAlmostEqual(counts["drift"] / self.N, 0.01, delta=0.0005)
        # DQ failures: invalid plan alone fails a fifth of the rows
        self.assertGreater(counts["dq_failures"], 0.2 * self.N)
        self.assertEqual(counts["total"], self.N)

    def test_stream_rules(self):
        recs = gen.stream_records(5, 20_000)
        rows = [json.loads(h + str(1_000_000 + o) + t) for _, o, h, t in recs]
        keys = np.array([k for k, _, _, _ in recs])
        self.assertEqual(list(keys), list(range(1, 20_001)))
        missing_id = np.array([r["id"] is None for r in rows])
        self.assertTrue((missing_id == (keys % 97 == 0)).all())
        invalid_email = np.array([r["email"] == "invalid-email" for r in rows])
        self.assertTrue((invalid_email == ((keys % 53 == 0) & (keys % 89 != 0))).all())
        v2 = np.array([r["version"] == 2 for r in rows])
        v3 = np.array([r["version"] == 3 for r in rows])
        self.assertTrue((v3 == (keys % 200 == 0)).all())
        self.assertTrue((v2 == ((keys % 100 == 0) & (keys % 200 != 0))).all())
        late = np.array([r["event_ts"] - 1_000_000 < -gen.LATE_THRESHOLD_MS for r in rows])
        self.assertEqual(int(late.sum()), gen.expected_stream_counts(5, 20_000)["late"])
        self.assertAlmostEqual(late.mean(), 0.0574, delta=0.004)


if __name__ == "__main__":
    unittest.main()
