"""The runner's stdout parses with a naive reader: json.loads per line.

The captured outputs under `captured/` are real runs of
`python3 perfbench/run.py` (one untraced, one traced)."""
import glob
import json
import os
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class OutputTest(unittest.TestCase):
    def captured(self):
        files = sorted(glob.glob(os.path.join(HERE, "captured", "*.out")))
        self.assertTrue(files, "no captured runs")
        return files

    def test_every_line_is_json_and_the_last_is_the_result(self):
        for path in self.captured():
            with open(path) as f:
                lines = [json.loads(l) for l in f.read().splitlines()]
            result = lines[-1]
            self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"}, path)
            self.assertIs(result["correct"], True)
            self.assertIsInstance(result["attempted"], int)
            self.assertGreaterEqual(result["attempted"], 1)
            self.assertEqual(result["failed"], 0)
            self.assertIn("context", lines[0])

    def test_metrics_match_the_spec_for_the_trace_mode(self):
        s = spec()
        for path in self.captured():
            with open(path) as f:
                result = json.loads(f.read().splitlines()[-1])
            traced = path.endswith(".trace1.out")
            want = s["per_layer" if traced else "end_to_end"]
            self.assertEqual(set(result["metrics"]), {m["name"] for m in want}, path)
            for m in want:
                got = result["metrics"][m["name"]]
                self.assertEqual(got["unit"], m["unit"])
                self.assertIsInstance(got["value"], (int, float))
            if not traced:
                for m in want:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0)


if __name__ == "__main__":
    unittest.main()
