"""The summariser names each SQL execution of ``Etl.runBatch`` by what it
computes, so dropping or reordering an action cannot shift the names."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import summarize  # noqa: E402

WIRE = ["key", "value", "offset"]
CLEAN = ["id", "name", "latitude", "longitude"]
STATS = ["n_rows", "n_ids", "avg_lat"]
LAYERS = [["etl.stats", STATS], ["etl.parse_clean", CLEAN], ["etl.gate", WIRE]]


def batch_trace(execs):
    """A one-op trace: an ``etl.runBatch`` root span over 0-100 ms, a
    ``sink.write`` child over 80-95 ms and one SQL execution per
    (start, end, analyzed columns)."""
    spans = [{"op": "etl-0", "name": "etl.runBatch", "parent": None, "start": 0.0, "end": 100.0},
             {"op": "etl-0", "name": "sink.write", "parent": "etl.runBatch",
              "start": 80.0, "end": 95.0}]
    sql = [{"id": i, "start": s, "end": e, "columns": cols} for i, (s, e, cols) in enumerate(execs)]
    return {"spans": spans, "sql": sql}


def layer_ms(trace):
    nodes = summarize.op_trees(trace, LAYERS)["etl-0"]
    return {n[0]: n[2] - n[1] for n in nodes if n[3] == "etl.runBatch"}


class EtlLayers(unittest.TestCase):
    def test_three_actions(self):
        trace = batch_trace([(1, 11, WIRE), (12, 52, WIRE + CLEAN),
                             (53, 78, WIRE + CLEAN + STATS), (82, 90, ["x"])])
        self.assertEqual(layer_ms(trace), {"etl.gate": 10, "etl.parse_clean": 40,
                                           "etl.stats": 25, "sink.write": 15})
        # the execution inside sink.write belongs to that span
        nodes = summarize.op_trees(trace, LAYERS)["etl-0"]
        self.assertIn(("sink.write:sql", 82.0, 90.0, "sink.write"), nodes)

    def test_without_the_gate_nothing_shifts(self):
        trace = batch_trace([(12, 52, WIRE + CLEAN), (53, 78, STATS + CLEAN + WIRE)])
        self.assertEqual(layer_ms(trace), {"etl.parse_clean": 40, "etl.stats": 25,
                                           "sink.write": 15})

    def test_an_unknown_execution_keeps_its_own_name(self):
        trace = batch_trace([(1, 11, ["other"])])
        self.assertEqual(layer_ms(trace), {"etl.runBatch:sql": 10, "sink.write": 15})

    def test_self_times_add_up(self):
        trace = batch_trace([(1, 11, WIRE), (12, 52, WIRE + CLEAN)])
        selfs, wall = summarize.self_times(summarize.op_trees(trace, LAYERS)["etl-0"])
        self.assertEqual(wall, 100.0)
        self.assertAlmostEqual(sum(selfs.values()), wall)
        self.assertAlmostEqual(selfs["etl.runBatch"], 100 - 10 - 40 - 15)


if __name__ == "__main__":
    unittest.main()
