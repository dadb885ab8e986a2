"""BENCHMARK.json names exactly the metrics the benchmark emits, within the
format limits the file must keep."""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402
import summarize  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_keys_and_limits(self):
        b = self.bench
        self.assertEqual(sorted(b), sorted(["command", "paths", "run_seconds", "workloads",
                                            "end_to_end", "per_layer"]))
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        names = [w["name"] for w in b["workloads"]] + [m["name"] for m in
                                                        b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b["workloads"]:
            self.assertEqual(sorted(w), ["name", "why"])
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(sorted(m), ["better", "bound", "name", "unit"])
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_workloads_match_run_py(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         ["etl_ingest", "query_mix", "stream_ingest"])

    def test_per_layer_matches_summarizer(self):
        emitted = summarize.ENGINE + summarize.MODULES + summarize.query_metrics(
            run.SHORT + run.HEAVY, run.PACKS, run.CLASSES)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]],
                         [tuple(x) for x in emitted])

    def test_end_to_end_matches_run_py(self):
        metrics, _ = run.end_to_end({"live_heap_mb": 1.0},
                                    {"samples": [1.0, 2.0], "setup_s": 1.0, "work_per_s": 1.0})
        self.assertEqual({k: v["unit"] for k, v in metrics.items()},
                         {m["name"]: m["unit"] for m in self.bench["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
