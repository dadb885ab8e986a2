"""A wrong answer counts in ``failed`` and never enters the timed samples."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

TRUTH = [{"n_rows": 3, "n_ids": 2, "avg_lat": 1.5, "avg_lon": -2.25,
          "min_lat": 0.5, "max_lat": 2.5}]


def etl_op(i, start, wall, **stats):
    return {"id": f"etl-{i}", "slice": 0, "timed": True, "start": start, "end": start + wall,
            "n_clean": 3, "n_stats": 1, "stats": dict(TRUTH[0], **stats)}


class InjectedWrongAnswer(unittest.TestCase):
    def test_etl(self):
        raw = {"t_setup0_ms": 0.0, "first_op_ms": 1000.0,
               "ops": [etl_op(0, 1000.0, 100.0), etl_op(1, 1100.0, 5.0, max_lat=2.6),
                       etl_op(2, 1105.0, 300.0)]}
        ev = run.evaluate("etl_ingest", raw, TRUTH)
        self.assertEqual((ev["attempted"], ev["failed"], ev["correct"]), (3, 1, False))
        self.assertEqual(sorted(ev["samples"]), [100.0, 300.0])  # the 5 ms wrong batch is gone
        self.assertEqual(sorted(ev["op_walls"]), ["etl-0", "etl-2"])

    def test_query_mix(self):
        ops = [{"id": "warm-q", "query": "q", "timed": False, "rows": 4, "start": 0, "end": 1},
               {"id": "p0-q", "query": "q", "pass": 0, "timed": True, "rows": 4,
                "start": 10.0, "end": 20.0},
               {"id": "p1-q", "query": "q", "pass": 1, "timed": True, "rows": 3,
                "start": 20.0, "end": 21.0}]
        raw = {"t_setup0_ms": 0.0, "first_op_ms": 10.0, "ops": ops, "oracle": {"q": "EXACT"}}
        ev = run.evaluate("query_mix", raw, None)
        self.assertEqual((ev["attempted"], ev["failed"]), (3, 1))
        self.assertEqual(ev["samples"], [10.0])
        raw["oracle"] = {"q": "VALUE MISMATCH"}
        with self.assertRaises(SystemExit):  # no correct timed op is left to time
            run.evaluate("query_mix", raw, None)

    def test_stream_ingest(self):
        truth = run.gen.stream_events(7, 30, 10, late_from=5)
        hour = 3600 * 10 ** 6
        wm_us = run.gen.EPOCH_2024 + 2 * hour
        hourly = run.gen.hourly_truth(truth)
        dedup = [list(r) for r in run.gen.dedup_truth(truth)]

        def progress(name, wm):
            return {"name": name, "batchId": 0, "runId": name, "numInputRows": 300,
                    "timestamp": "2026-01-01T00:00:01.000Z", "durationMs": {"triggerExecution": 500},
                    "sources": [{"startOffset": None, "endOffset": "29"}],
                    "eventTime": {"watermark": wm}}
        raw = {"t_setup0_ms": 0.0, "first_op_ms": run._epoch_ms("2026-01-01T00:00:00.000Z"),
               "progress": [progress("bench_dedup", "2024-01-01T02:00:00.000Z"),
                            progress("bench_hourly", "2024-01-01T02:00:00.000Z")],
               "handoffs": [[c, 0.0, run._epoch_ms("2026-01-01T00:00:00.000Z") + c, c, 10]
                            for c in range(30)],
               "batch": [[s, t, n] for (s, t), n in hourly.items()],
               "emitted": [[s, t, n] for (s, t), n in hourly.items() if s + hour < wm_us],
               "dedup_batch": dedup, "dedup_emitted": dedup}
        ev = run.evaluate("stream_ingest", raw, truth)
        self.assertEqual((ev["attempted"], ev["failed"], ev["correct"]), (30, 0, True))
        raw["dedup_emitted"] = dedup + [dedup[0]]  # a duplicate slipped through
        with self.assertRaises(SystemExit):  # every chunk is wrong: none is timed
            run.evaluate("stream_ingest", raw, truth)


if __name__ == "__main__":
    unittest.main()
