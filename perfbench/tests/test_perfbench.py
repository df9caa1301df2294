"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The generator, naming, oracle and span-check tests take seconds. The JVM
test (an injected broken query, in a run whose live leg also checks the
generator's lateness) starts Spark and takes about a minute; set
PERFBENCH_FAST=1 to skip it.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402

SLOW = os.environ.get("PERFBENCH_FAST") != "1"
TICKS = dict(n_events=20_000, n_keys=500, zipf_s=0.8, burst_share=0.3, files=4)


class Generators(unittest.TestCase):
    def _digest(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            fn(d, seed)
            return gen.digest(d)

    def test_subsample_is_deterministic_per_seed(self):
        a, b, c = (self._digest(gen.subsample, s) for s in (1, 1, 2))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_subsample_keeps_about_ninety_percent(self):
        with tempfile.TemporaryDirectory() as d:
            gen.subsample(d, 7)
            for name in gen.PRIMARY_KEYS:
                kept = pq.read_metadata(os.path.join(d, f"{name}.parquet")).num_rows
                base = pq.read_metadata(os.path.join(gen.BASE, f"{name}.parquet")).num_rows
                self.assertAlmostEqual(kept / base, 0.9, delta=0.05)

    def test_ticks_is_deterministic_per_seed(self):
        def make(d, s):
            gen.ticks(d, s, **TICKS)
        a, b, c = (self._digest(make, s) for s in (3, 3, 4))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_ticks_are_skewed_and_bursty(self):
        with tempfile.TemporaryDirectory() as d:
            n = gen.ticks(d, 5, **TICKS)
            files = os.listdir(os.path.join(d, "events.parquet"))
            self.assertEqual(len(files), TICKS["files"])
            t = pq.read_table(os.path.join(d, "events.parquet"))
            self.assertEqual(t.num_rows, n)
            users = t.column("user_id").to_numpy()
            ts = t.column("ts").cast(pa.int64()).to_numpy()
            _, per_key = np.unique(users, return_counts=True)
            self.assertGreater(per_key.max(), 5 * n / TICKS["n_keys"])
            _, per_instant = np.unique(np.stack([users, ts]), axis=1, return_counts=True)
            self.assertGreaterEqual(per_instant.max(), 2)
            self.assertLessEqual(per_instant.max(), 8)
            self.assertTrue(np.all(np.diff(ts) >= 0))
            self.assertTrue(np.array_equal(t.column("event_id").to_numpy(), np.arange(n)))


class Names(unittest.TestCase):
    def test_metric_names_and_units(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        layers = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        self.assertEqual(e2e, report.END_TO_END)
        self.assertEqual(layers, report.PER_LAYER)
        names = [n for n, _ in e2e + layers] + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for _, u in e2e + layers:
            self.assertRegex(u, r"^[A-Za-z0-9_/%.-]{1,16}$")
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


class OracleCheck(unittest.TestCase):
    def test_exact_multiset_compare(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "q", "ok"))
            os.makedirs(os.path.join(d, "q", "bad"))
            t = pa.table({"b": [2.5, 1.0], "a": [1, 2]})
            pq.write_table(t, os.path.join(d, "q", "ok", "part.parquet"))
            pq.write_table(pa.table({"b": [2.5, 1.0000001], "a": [1, 2]}),
                           os.path.join(d, "q", "bad", "part.parquet"))
            con = oracle.connect(d, 2)
            sql = "SELECT * FROM (VALUES (2, 1.0), (1, 2.5)) v(a, b)"
            self.assertTrue(oracle.check(con, os.path.join(d, "q"), "ok", sql)[0])
            ok, msg, _ = oracle.check(con, os.path.join(d, "q"), "bad", sql)
            self.assertFalse(ok)
            self.assertIn("differ", msg)
            self.assertFalse(oracle.check(con, os.path.join(d, "q"), "missing", sql)[0])
            self.assertFalse(oracle.check(con, os.path.join(d, "q"), "ok", sql + " WHERE false")[0])


def span(name, start, end, qid="cold/q", parent=None):
    return {"name": name, "start": start, "end": end, "qid": qid,
            "parent": parent if parent is not None else f"q:{qid}", "id": f"{name}:{start}"}


class SpanCheck(unittest.TestCase):
    def query(self, inner):
        return [span("query", 0.0, 1000.0, parent="", qid="cold/q") | {"id": "q:cold/q"},
                span("build", 0.0, 200.0), span("execute", 200.0, 1000.0)] + inner

    def test_covered_query_passes(self):
        cover, nested, layers = report.coverage(self.query([
            span("plan.analysis", 150.0, 200.0), span("job", 210.0, 600.0),
            span("job", 500.0, 900.0)]))
        self.assertAlmostEqual(cover, 0.74)
        self.assertTrue(nested)
        self.assertGreaterEqual(cover, report.COVER_MIN)
        self.assertAlmostEqual(layers["execute.jobs"], 0.69)
        self.assertAlmostEqual(layers["execute.self"], 0.11)

    def test_gap_in_listener_spans_fails(self):
        cover, nested, _ = report.coverage(self.query([span("job", 210.0, 400.0)]))
        self.assertTrue(nested)
        self.assertLess(cover, report.COVER_MIN)

    def test_span_outside_its_query_fails(self):
        _, nested, _ = report.coverage(self.query([span("job", 210.0, 1020.0)]))
        self.assertFalse(nested)


@unittest.skipUnless(SLOW, "PERFBENCH_FAST=1")
class Jvm(unittest.TestCase):
    def test_injected_broken_query_raises_error_rate(self):
        r = subprocess.run([sys.executable, os.path.join(PERFBENCH, "run.py"),
                            "--workload", "replay_small", "--seed", "1", "--seconds", "5",
                            "--inject-broken", "evt_rolling5"],
                           cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        rate = [float(x.split()[2]) for x in lines if x.startswith("metric error_rate ")]
        self.assertEqual(len(rate), 1)
        self.assertGreater(rate[0], 0.0)
        self.assertTrue(any("evt_rolling5" in x for x in lines if x.startswith("failure")))

        # the same run's live leg: the generator, one thread among Spark's
        # under real load, keeps pace, at most five send ticks late. It is
        # usually one tick late; a stop-the-world GC pause stops it too.
        late = [x for x in lines if x.startswith("live open-loop ")]
        self.assertEqual(len(late), 1)
        self.assertIn(f"at {run.RATE:g}/s", late[0])
        self.assertLess(float(late[0].split("lateness p99 ")[1].split()[0]), 5 * run.TICK_MS)


if __name__ == "__main__":
    unittest.main()
