"""Self-tests of the benchmark harness (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import re
import sys
import tempfile
import unittest
from itertools import islice

HERE = os.path.dirname(os.path.abspath(__file__))
PB = os.path.dirname(HERE)
ROOT = os.path.dirname(PB)
sys.path.insert(0, PB)

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace_ops  # noqa: E402
import workloads as W  # noqa: E402


def digest_dir(path):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tables = {s: datagen.lake_tables(s) for s in (1, 2)}
        cls.rows = {n: t.num_rows for n, t in cls.tables[1].items()}

    def written(self, seed, fn):
        with tempfile.TemporaryDirectory() as d:
            datagen.write_tables(fn(seed), d)
            return digest_dir(d)

    def test_generated_bytes(self):
        for fn in (lambda s: self.tables[s], datagen.corpus_tables):
            a, b, c = self.written(1, fn), self.written(1, fn), self.written(2, fn)
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)

    def test_statement_sequences(self):
        def texts(gen, n=60):
            return [op.sql for op in islice(gen, n)]
        for make in (lambda s, c: W.dashboard_ops(s, c, self.rows),
                     lambda s, c: W.analytic_ops(s, c, self.rows),
                     lambda s, c: W.elt_reader_ops(s, c, [75000, 75000])):
            self.assertEqual(texts(make(1, 0)), texts(make(1, 0)))
            self.assertNotEqual(texts(make(1, 0)), texts(make(2, 0)))
            self.assertNotEqual(texts(make(1, 0)), texts(make(1, 1)))
        self.assertEqual(trace_ops.corpus_slice(1, 2), trace_ops.corpus_slice(1, 2))
        self.assertNotEqual(trace_ops.corpus_slice(1, 2), trace_ops.corpus_slice(2, 2))

    def test_dashboard_lap_mix_does_not_depend_on_the_seed(self):
        def laps(seed, client, n=8):
            return list(islice(W.dashboard_laps(seed, client, self.rows), n))
        for c in range(4):
            a, b = laps(1, c), laps(2, c)
            self.assertEqual([sorted(op.cls for op in lap) for lap in a],
                             [sorted(op.cls for op in lap) for lap in b])
            self.assertNotEqual([op.sql for lap in a for op in lap],
                                [op.sql for lap in b for op in lap])
            self.assertTrue(all(len(lap) == W.LAP for lap in a))

    def test_elt_writer_ops_and_staged_files(self):
        def writer(seed, d):
            o = self.tables[seed]["orders"]
            orders = [o.column(c).to_pylist() for c in
                      ("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")]
            wr = W.EltWriter(seed, 0, orders, d)
            wr.write_batches()
            ops = []
            for op in wr.ops():
                if wr.cycle >= 2:
                    break
                ops.append(op.sql.replace(d, "<stage>"))
                wr.apply(op)
            return ops, digest_dir(d), sorted(wr.model.items())
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            first, second, other = writer(1, a), writer(1, b), writer(2, c)
        self.assertEqual(first, second)
        self.assertNotEqual(first[0], other[0])
        self.assertNotEqual(first[1], other[1])


class WholeLaps(unittest.TestCase):
    def test_rates_count_only_completed_laps(self):
        rec = run.Recorder()
        op = W.Op(sql="SELECT 1", cls="point", input_rows=10)
        rec.start = run.time.perf_counter()
        for _ in range(3):
            rec.ok(0, op, 1.0, None, False)
        rec.lap_done(0)
        end = rec.ends[0]
        rec.ok(0, op, 1.0, None, False)       # a lap still open at the deadline
        self.assertEqual(len(rec.done), 4)
        self.assertAlmostEqual(rec.rate(lambda *_: 1.0), 3 / (end - rec.start))
        self.assertAlmostEqual(rec.rate(lambda kind, cls, ms, rows: rows),
                               30 / (end - rec.start))


class Percentiles(unittest.TestCase):
    def test_only_with_ten_samples_beyond(self):
        for p, n in ((50, 20), (90, 100), (99, 1000)):
            self.assertIsNone(stats.percentile(list(range(n - 1)), p))
            v = stats.percentile(list(range(n)), p)
            self.assertIsNotNone(v)
            self.assertEqual(sum(1 for x in range(n) if x > v), 10)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class MetricNames(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        with open(os.path.join(PB, "design.json")) as f:
            cls.design = json.load(f)

    def test_end_to_end(self):
        self.assertEqual(run.END_TO_END_UNITS,
                         {m["name"]: m["unit"] for m in self.bench["end_to_end"]})

    def test_report_only_metrics(self):
        declared = {m["name"]: m["unit"] for m in self.design["report_metrics"]}
        self.assertEqual(run.DETAIL_UNITS, declared)

    def test_per_layer_matches_what_the_replay_emits(self):
        with open(os.path.join(PB, "jvm", "src", "main", "scala", "graft", "perfbench",
                               "Trace.scala")) as f:
            src = f.read()
        emitted = set(re.findall(r'(?:span\((?:wl, |"corpus", )?|timed\()"([a-z]+\.[a-z_]+)"',
                                 src))
        # writes and operator calls: their metric comes from Trace.CallMetric,
        # looked up by the classes the generators actually produce
        self.assertIn("span(wl, CallMetric(cls), ", src)
        table = src[src.index("val CallMetric"):]
        table = dict(re.findall(r'"(\w+)" -> "([a-z]+\.[a-z_]+)"', table[:table.index(")\n")]))
        with tempfile.TemporaryDirectory() as d:
            tables = datagen.lake_tables(1)
            o = tables["orders"]
            orders = [o.column(c).to_pylist() for c in
                      ("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")]
            ops = trace_ops.elt_slice(1, orders, d, 2, False)
        classes = {op["cls"] for op in ops if op["kind"] == "write"}
        classes |= {op["cls"] for op in trace_ops.corpus_slice(1, 1)}
        self.assertEqual(set(table), classes)
        emitted |= {table[c] for c in classes}
        self.assertEqual(emitted, {m["name"] for m in self.bench["per_layer"]})

    def test_prediction_map_names_real_metrics(self):
        layers = {m["name"] for m in self.bench["per_layer"]}
        e2e = {m["name"] for m in self.bench["end_to_end"]} | set(run.DETAIL_UNITS)
        for p in self.design["layer_predictions"]:
            self.assertTrue(set(p["layers"]) <= layers, p)
            self.assertIn(p["moves"], e2e, p)
            self.assertIn(p["workload"], run.WORKLOADS, p)


class Oracle(unittest.TestCase):
    def test_float_tolerance_and_order(self):
        a = oracle.canonical([("x", 1, 0.1 + 0.2), ("a", 2, 1.0)])
        b = oracle.canonical([("a", 2, 1.0), ("x", 1, 0.3)])
        self.assertTrue(oracle.same(a, b))
        self.assertFalse(oracle.same(a, oracle.canonical([("a", 2, 1.0), ("x", 1, 0.31)])))
        self.assertFalse(oracle.same(a, a[:1]))


if __name__ == "__main__":
    unittest.main()
