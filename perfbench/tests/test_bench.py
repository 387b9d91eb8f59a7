"""Self-tests of the benchmark's own code (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import stats  # noqa: E402

SPEC = stats.load_spec(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"))


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratedInputs(unittest.TestCase):
    def generate(self, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        gen.generate_drain(seed, d)
        return d

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b = self.generate(7), self.generate(7)
        self.assertTrue(files(a))
        self.assertEqual(files(a), files(b))
        for n in files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False), n)

    def test_different_seed_gives_different_inputs(self):
        a, b = self.generate(7), self.generate(8)
        self.assertEqual(files(a), files(b))
        self.assertTrue(any(not filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
                            for n in files(a)))

    def test_drain_flushes_hold_every_burst(self):
        d = self.generate(7)
        lines = [line for n in files(d) if n.startswith("spool") for line in open(os.path.join(d, n))]
        self.assertEqual(len(lines), gen.DRAIN_FILES * gen.DRAIN_FLUSH)
        words = open(os.path.join(d, "bursts.txt")).read().split()
        self.assertEqual(len(words), gen.DRAIN_BURSTS)
        for w in words:
            self.assertEqual(sum(f" {w} " in line for line in lines), gen.BURST_COPIES, w)


class Percentile(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        xs = list(range(1, 50))  # p80 of 49: rank 40, 9 beyond
        with self.assertRaises(ValueError):
            stats.percentile(xs, 80)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_estimates_with_enough_samples(self):
        xs = list(range(1, 51))  # rank 40, 10 beyond
        self.assertAlmostEqual(stats.percentile(xs, 80), 40.5, places=1)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 50), 25.5, places=2)
        self.assertAlmostEqual(stats.percentile([3.0] * 30, 50), 3.0)


class Printer(unittest.TestCase):
    def metrics(self, listed):
        return {m["name"]: 1.5 for m in listed}

    def test_emits_name_and_unit_of_every_listed_metric(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = stats.result_line(SPEC, self.metrics(SPEC[key]), True, 3, 0, trace)
            out = json.loads(line)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), {m["name"] for m in SPEC[key]})
            for m in SPEC[key]:
                self.assertEqual(out["metrics"][m["name"]], {"value": 1.5, "unit": m["unit"]})

    def test_fails_when_a_metric_is_missing(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            for m in SPEC[key]:
                partial = self.metrics(SPEC[key])
                del partial[m["name"]]
                with self.assertRaises(KeyError):
                    stats.result_line(SPEC, partial, True, 3, 0, trace)

    def test_setup_s_is_an_end_to_end_metric(self):
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in SPEC["end_to_end"])}])


if __name__ == "__main__":
    unittest.main()
