"""The same seed gives identical generated inputs; another seed, other ones."""
import hashlib
import io
import os
import sys
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def table_hash(table):
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return hashlib.sha256(buf.getvalue()).hexdigest()


def airports_hash(seed):
    keys, values, truth = gen.airport_messages(seed, 3, 2000)
    return hashlib.sha256(repr((keys, values, truth)).encode()).hexdigest()


def tables_hash(seed):
    tables = gen.query_tables(seed, sf=0.001, n_docs=60, n_vecs=40)
    return hashlib.sha256("".join(table_hash(tables[t]) for t in sorted(tables))
                          .encode()).hexdigest()


def stream_hash(seed):
    return table_hash(gen.stream_events(seed, 30, 50))


class SeedDeterminism(unittest.TestCase):
    def check(self, make):
        self.assertEqual(make(7), make(7))
        self.assertNotEqual(make(7), make(8))

    def test_airport_messages(self):
        self.check(airports_hash)

    def test_query_tables(self):
        self.check(tables_hash)

    def test_stream_events(self):
        self.check(stream_hash)


class GeneratedShapes(unittest.TestCase):
    def test_airport_truth_counts_clean_rows_and_repeated_ids(self):
        keys, values, truth = gen.airport_messages(3, 2, 5000)
        self.assertEqual(len(keys), 10000)
        self.assertEqual(keys, sorted(keys))
        for t in truth:
            self.assertLess(t["n_rows"], 5000)       # dirty shapes are dropped
            self.assertLess(t["n_ids"], t["n_rows"])  # some ids arrive twice
        self.assertTrue(any(not v.endswith("}") for v in values))  # invalid JSON

    def test_query_tables_match_the_fixture_schemas(self):
        tables = gen.query_tables(1, sf=0.001, n_docs=60, n_vecs=40)
        self.assertEqual(sorted(tables), sorted(
            ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]))
        self.assertEqual(str(tables["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(tables["embeddings"].schema.field("embedding").type), "list<item: float>")
        self.assertEqual(str(tables["nation"].schema.field("n_nationkey").type), "int32")

    def test_stream_late_and_duplicate_shares(self):
        ev = gen.stream_events(5, 200, 100)
        kinds = ev.column("kind").to_pylist()
        ts = ev.column("ts").cast("int64").to_pylist()
        n = len(kinds)
        self.assertAlmostEqual(kinds.count(gen.KIND_DUP) / n, gen.STREAM_DUP_SHARE, delta=0.01)
        self.assertGreater(kinds.count(gen.KIND_LATE), 0)
        for k, t in zip(kinds, ts):
            self.assertEqual(k == gen.KIND_LATE, t < gen.EPOCH_2024)
        truth = gen.hourly_truth(ev)
        self.assertEqual(sum(truth.values()), n - kinds.count(gen.KIND_LATE))
        dedup = gen.dedup_truth(ev)
        self.assertEqual(len(dedup), kinds.count(gen.KIND_ON_TIME))
        self.assertEqual(len({r[0] for r in dedup}), len(dedup))  # each event id once


if __name__ == "__main__":
    unittest.main()
