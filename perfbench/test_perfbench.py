"""Self-tests of the benchmark itself (not of the program).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last tests build the harness (if needed) and drive it with the
benchmark-local fake program, so they take two JVM starts.
"""
import json
import math
import os
import random
import unittest

import metrics
import run
import workloads


def fake_result(n=24):
    """A harness result of n ops, alternately traced, one of them failed."""
    ops = []
    for i in range(n):
        traced = i % 2 == 0
        ops.append({
            "i": i, "kind": ("box", "export", "q33_ann_ivf")[i % 3], "ms": 100.0 + i,
            "ok": i != 5, "traced": traced, "repeat": i % 4 == 3, "rows": 10,
            **({"format": "arrow", "write_ms": 40.0, "read_ms": 30.0, "user_bytes": 84e4,
                "disk_bytes": 5e5, "files": 2.0} if i % 3 == 1 else {}),
            "layers": {"spark.jobs": 2.0, "spark.job_ms": 50.0, "spark.task_run_ms": 120.0,
                       "driver.gap_ms": 50.0, "tables.open.spans": 1.0,
                       "tables.open.span_ms": 9.0} if traced else {},
        })
    return {"setup_ms": [9000.0, 2500.0, 2400.0], "timed_ms": sum(o["ms"] for o in ops), "cores": 4,
            "rss_peak_kb": 1.5e6, "heap_live_bytes": 9e7, "probe": {"open_infer_ms": 80.0}, "ops": ops,
            "spans": [{"op": 0, "id": 0, "parent": -1, "name": "action.count",
                       "start_ns": 0, "end_ns": 100},
                      {"op": 0, "id": 1, "parent": 0, "name": "spark.job",
                       "start_ns": 20, "end_ns": 60}]}


SECONDS = 15


class OpLists(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(json.dumps(workloads.generate(w, 7, SECONDS)),
                             json.dumps(workloads.generate(w, 7, SECONDS)), w)

    def test_other_seed_other_parameters(self):
        for w in workloads.WORKLOADS:
            a = workloads.generate(w, 7, SECONDS)["ops"]
            b = workloads.generate(w, 8, SECONDS)["ops"]
            self.assertNotEqual([o["key"] for o in a], [o["key"] for o in b], w)

    def test_block_mix_is_fixed(self):
        for w in workloads.WORKLOADS:
            mixes = set()
            for seed in range(5):
                ops = workloads.generate(w, seed, SECONDS)["ops"]
                n = len(ops) // workloads.blocks(w, SECONDS)
                self.assertEqual(len(ops) % n, 0)
                mixes.update(tuple(sorted(o["kind"] for o in ops[b:b + n]))
                             for b in range(0, len(ops), n))
            self.assertEqual(len(mixes), 1, w)

    def test_op_count_is_fixed_by_seconds(self):
        for w in workloads.WORKLOADS:
            counts = {len(workloads.generate(w, seed, SECONDS)["ops"]) for seed in range(5)}
            self.assertEqual(len(counts), 1, w)
            self.assertGreaterEqual(counts.pop(), workloads.MIN_OPS, w)
            self.assertGreater(len(workloads.generate(w, 1, 10 * SECONDS)["ops"]),
                               len(workloads.generate(w, 1, SECONDS)["ops"]), w)

    def test_repeats_copy_an_earlier_op(self):
        ops = workloads.generate("catalog", 3, SECONDS)["ops"]
        for i, o in enumerate(ops):
            if o.get("repeat"):
                self.assertIn(o["key"], {p["key"] for p in ops[:i]})


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        rng = random.Random(1)
        for n in (11, 12, 27, 100, 1000):
            xs = [rng.random() for _ in range(n)]
            value, pct, beyond = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
            self.assertEqual(beyond, 10)

    def test_hundred(self):
        self.assertEqual(metrics.tail(range(1, 101)), (90, 90.0, 10))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail(range(10))


class Names(unittest.TestCase):
    def test_names_and_units(self):
        names = [m[0] for m in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit, better in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(name, metrics.NAME)
            self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(better, ("lower", "higher"))

    def test_benchmark_json_matches(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         list(metrics.PER_LAYER))
        self.assertEqual([w["name"] for w in b["workloads"]], list(workloads.WORKLOADS))


class Output(unittest.TestCase):
    def check_line(self, trace, spec):
        out, _, report = run.summarize(fake_result(), trace)
        line = json.loads(json.dumps(out))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (24, 1, False))
        self.assertEqual(list(line["metrics"]), [m[0] for m in spec])
        for name, unit, _ in spec:
            v = line["metrics"][name]
            self.assertEqual(v["unit"], unit)
            self.assertTrue(isinstance(v["value"], (int, float)) and math.isfinite(v["value"]))
        self.assertAlmostEqual(report["fail_ratio"], 1 / 24)

    def test_untraced_line(self):
        self.check_line(0, metrics.END_TO_END)

    def test_traced_line(self):
        self.check_line(1, metrics.PER_LAYER)

    def test_self_time(self):
        st = metrics.self_times(fake_result()["spans"])
        self.assertEqual(st["action.count"]["self_ms"], 60 / 1e6)


class FakeProgram(unittest.TestCase):
    """The harness driving the benchmark-local fake in place of the program."""

    def run_fake(self, sleep_ms):
        kinds = ("ok", "throw", "ok", "wrong", "ok", "throw") * 2
        ops = [{"kind": k, "key": f"{k}{i}", "sleep_ms": sleep_ms} for i, k in enumerate(kinds)]
        spec = {"workload": "fake", "warmup": [], "ops": ops}
        _, result = run.run_harness(run.build(), "fake", 0, SECONDS, 0, spec=spec)
        return result

    def test_throw_and_wrong_output_count_as_failed(self):
        out, _, report = run.summarize(self.run_fake(0), 0)
        self.assertEqual((out["attempted"], out["failed"], out["correct"]), (12, 6, False))
        self.assertAlmostEqual(report["fail_ratio"], 0.5)
        self.assertEqual([f["kind"] for f in report["failures"]], ["throw", "wrong", "throw"] * 2)

    def test_slower_program_runs_the_same_ops(self):
        fast, slow = self.run_fake(0), self.run_fake(60)
        self.assertGreater(slow["timed_ms"], fast["timed_ms"] + 12 * 50)
        self.assertEqual([o["kind"] for o in fast["ops"]], [o["kind"] for o in slow["ops"]])


if __name__ == "__main__":
    unittest.main()
