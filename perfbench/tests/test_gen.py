"""The seeded generator: reproducible, seed-sensitive, and its two
renderings are one record set.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

# a two-second paced set: small, and it has every traffic dimension
WL, SECS = "import_paced", 2


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_records(self):
        a, ma = gen.generate(WL, 7, SECS)
        b, mb = gen.generate(WL, 7, SECS)
        self.assertEqual(gen.json_lines(a), gen.json_lines(b))
        self.assertTrue(gen.events_table(a).equals(gen.events_table(b)))
        self.assertEqual(ma, mb)

    def test_other_seed_other_records(self):
        a, _ = gen.generate(WL, 7, SECS)
        b, _ = gen.generate(WL, 8, SECS)
        self.assertNotEqual(gen.json_lines(a), gen.json_lines(b))

    def test_workloads_draw_apart(self):
        a, _ = gen.generate("import_drain", 7)
        b, _ = gen.generate("entity_backfill", 7)
        self.assertNotEqual(gen.json_lines(a)[:100], gen.json_lines(b)[:100])

    def test_renderings_agree(self):
        cols, _ = gen.generate(WL, 3, SECS)
        table = gen.events_table(cols)
        t = table.to_pydict()
        ts_us = table.column("ts").cast(pa.int64()).to_pylist()
        for i, line in enumerate(gen.json_lines(cols)):
            r = json.loads(line)
            self.assertEqual(r["event_id"], t["event_id"][i])
            self.assertEqual(r["ts_ms"] * 1000, ts_us[i])
            self.assertEqual(r["user_id"], t["user_id"][i])
            self.assertEqual(r["event_type"], t["event_type"][i])
            self.assertEqual(r["value"], t["value"][i])
            self.assertEqual(json.loads(t["props"][i])["k"], r["k"])

    def test_make_up(self):
        # ten seconds of paced traffic: long enough in event time for
        # instances to return after eviction
        cols, meta = gen.generate(WL, 5, 10)
        users, types = cols["user_id"], cols["event_type"]
        # one signup per instance: every record can be associated
        signups = users[types == "signup"]
        self.assertEqual(len(signups), len(np.unique(signups)))
        self.assertEqual(set(signups.tolist()), set(users.tolist()))
        self.assertEqual(len(np.unique(users)), meta["instances"])
        self.assertEqual(len(users), meta["records"])
        # publish order is event_id order; disorder stays inside its bound,
        # far under the loop's 2 h watermark
        self.assertTrue((np.diff(cols["event_id"]) == 1).all())
        lateness = np.maximum.accumulate(cols["ts_ms"]) - cols["ts_ms"]
        self.assertLessEqual(lateness.max(), meta["disorder_ms"])
        self.assertGreater(meta["pre_signup_share"], 0.02)
        self.assertGreater(meta["fatal_errors"], 0)
        self.assertGreater(meta["returning_instances"], 0)
        # event time runs over several fold eviction horizons (1 h + 2 h)
        self.assertGreater(meta["event_span_ms"], 6 * gen.HOUR)
        fatal = (types == "error") & (cols["k"] >= 90)
        self.assertEqual(int(fatal.sum()), meta["fatal_errors"])
        self.assertEqual(int(round(cols["value"][types == "purchase"].sum() * 100)),
                         meta["purchase_cents"])


if __name__ == "__main__":
    unittest.main()
