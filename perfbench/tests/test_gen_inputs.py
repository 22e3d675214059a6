"""Tests for the seeded input generator: determinism and table contracts."""
import hashlib
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen_inputs  # noqa: E402

SIZES = gen_inputs.SIZES

def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class DeterminismTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            info_a = gen_inputs.generate(a, 7)
            gen_inputs.generate(b, 7)
            gen_inputs.generate(c, 8)
            self.assertEqual(digests(a), digests(b))
            da, dc = digests(a), digests(c)
            self.assertTrue(all(da[f] != dc[f] for f in da))
            for name, meta in info_a.items():
                self.assertEqual(meta["rows"], SIZES[name])
                self.assertEqual(
                    meta["bytes"], os.path.getsize(os.path.join(a, name + ".parquet")))


class ContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        gen_inputs.generate(cls.tmp.name, 3)
        cls.events = pq.read_table(os.path.join(cls.tmp.name, "events.parquet"))
        cls.docs = pq.read_table(os.path.join(cls.tmp.name, "documents.parquet"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_events_schema_matches_the_driver_table(self):
        self.assertEqual(self.events.schema.names,
                         ["event_id", "ts", "user_id", "event_type", "value", "props"])
        self.assertEqual(self.events.schema.field("ts").type, pa.timestamp("us"))

    def test_events_contracts(self):
        ts = self.events["ts"].cast(pa.int64()).to_numpy()
        self.assertTrue(np.all(np.diff(ts) > 0))
        self.assertGreaterEqual(ts[0], gen_inputs.TS_START_US)
        self.assertLess(ts[-1], gen_inputs.TS_START_US + gen_inputs.TS_SPAN_US)
        v = self.events["value"].to_numpy()
        self.assertTrue(0 <= v.min() and v.max() <= 560.21)
        self.assertTrue(np.all(np.round(v * 100) / 100 == v))
        self.assertEqual(len(set(self.events["event_type"].to_pylist())), 5)
        self.assertEqual(len(set(self.events["user_id"].to_pylist())), SIZES["users"])

    def test_events_file_is_cut_into_row_groups(self):
        f = pq.ParquetFile(os.path.join(self.tmp.name, "events.parquet"))
        self.assertEqual(f.metadata.num_row_groups, gen_inputs.EVENTS_ROW_GROUPS)

    def test_documents_carry_exact_duplicates(self):
        texts = self.docs["text"].to_pylist()
        dups = [t for t in texts if t.endswith(" dup")]
        self.assertTrue(dups)
        self.assertTrue(all(t[:-4] in texts for t in dups if not t[:-4].endswith(" dup")))

    def test_contract_checks_reject_a_broken_table(self):
        t = self.events
        ts = t["ts"].cast(pa.int64()).to_numpy().copy()
        ts[5] = ts[4]
        broken = t.set_column(1, "ts", pa.array(ts, type=pa.timestamp("us")))
        with self.assertRaises(AssertionError):
            gen_inputs.check_events(broken, SIZES["events"], SIZES["users"])


if __name__ == "__main__":
    unittest.main()
