"""Self-tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No JVM and no build: they exercise run.py's span, serial-time and
metric-record code on hand-made records, and the DuckDB correctness
checks on a tiny generated documents table.
"""
import json
import os
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import run

HERE = os.path.dirname(os.path.abspath(__file__))

# KgOps.tripleCte, as the JVM side passes it to run.py
TRIPLE_CTE = (
    "WITH en AS (SELECT doc_id AS i FROM documents WHERE lang = 'en'),\n"
    "t AS (SELECT i, i % 1000 AS s, (7*i+3) % 1000 AS o, i % 5 AS p FROM en),\n"
    "cz AS (SELECT i, p,\n"
    "  CASE WHEN s >= 800 THEN s - 800 ELSE s END AS cs,\n"
    "  CASE WHEN o >= 800 THEN o - 800 ELSE o END AS co FROM t)")
PREDICATES = ["works_for", "located_in", "part_of", "founded", "acquired"]


def span(i, parent, name, a, b):
    return {"id": i, "parent": parent, "name": name, "run_id": "r",
            "start_ms": a, "end_ms": b}


class SpanArithmetic(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(0, -1, "run", 0, 100),
                 span(1, 0, "a", 10, 40),
                 span(2, 0, "b", 30, 60),   # overlaps a: union is 10..60
                 span(3, 1, "a.child", 15, 20),
                 span(4, 0, "c", 90, 120)]  # runs past the parent's end
        st = run.self_times_ms(spans)
        self.assertEqual(st[0], 100 - 50 - 10)
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(run.self_times_ms([span(0, -1, "x", 5, 7.5)])[0], 2.5)


class SerialTime(unittest.TestCase):
    def test_overlapping_tasks_count_once(self):
        sp = span(0, -1, "kg.facts", 0, 100)
        tasks = [(10, 30), (20, 50), (45, 60), (80, 90)]
        # covered: 10..60 and 80..90 = 60; idle = 40
        self.assertEqual(run.serial_ms(sp, tasks), 40)

    def test_tasks_outside_span_are_clipped(self):
        sp = span(0, -1, "x", 100, 200)
        self.assertEqual(run.serial_ms(sp, [(50, 120), (190, 260)]), 70)

    def test_no_tasks_is_all_serial(self):
        self.assertEqual(run.serial_ms(span(0, -1, "x", 0, 30), []), 30)


def fake_raw(workload, cores=4):
    """A minimal raw record, shaped like the JVM's output."""
    def trace(run_id, c, layers, scale):
        spans, tasks, t = [span(0, -1, "run", 0, 1000 * scale)], [], 0
        step = 1000 * scale / len(layers)
        for i, layer in enumerate(layers):
            spans.append(span(i + 1, 0, layer, t, t + step))
            tasks.append([f"{run_id}/{layer}", i, t + 1, t + step - 1,
                          10**9, 20, 10**6, 2 * 10**6, 0])
            t += step
        return {"run_id": run_id, "cores": c, "spans": spans, "tasks": tasks,
                "jobs": {f"{run_id}/kg.facts": 5},
                "run": dict(sync_run(scale),
                            layers={"kg.facts": {"out_rows": 7, "out_bytes": 2e6}})}

    def sync_run(scale):
        return {"wall_s": 1.0 * scale, "pages": 5000, "triples": 2000,
                "graph_bytes": 4e5, "page_nodes": 5000,
                "graph_bytes_written": 5e5, "partitions_carried": 3,
                "partitions_total": 12, "nodes_deleted": 500,
                "edges_deleted": 498}

    traces = [trace(f"traced-c{cores}", cores, run.STAGE_LAYERS, 1.0)]
    raw = {"workload": workload, "cores": cores, "setup_s": 9.0,
           "runs": [sync_run(1.0), sync_run(1.2)], "peak_rss_mb": 1800.0,
           "traces": traces, "passes": {}}
    if workload == "cold_sync":
        traces.append(trace("traced-c1", 1, run.STAGE_LAYERS, 3.0))
        raw["passes"]["kg.render"] = {"s": 0.25, "bytes": 6e8}
    else:
        q = trace("queries", cores, [f"query.{q}" for q in run.QUERY_MIX], 0.9)
        q["run"]["cached_mb"] = 1.5
        traces.append(q)
    return raw


class MetricRecord(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_prints(self, metrics, entries):
        want = {e["name"]: e["unit"] for e in entries}
        self.assertEqual(set(metrics), set(want))
        for name, m in metrics.items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], float)

    def test_end_to_end_record_has_every_benchmark_name(self):
        for w in run.WORKLOADS:
            m = run.render_metrics(run.end_to_end_metrics(fake_raw(w)),
                                   run.end_to_end_names())
            self.assert_prints(m, self.spec["end_to_end"])
            self.assertTrue(all(v["value"] > 0 for v in m.values()))
            self.assertAlmostEqual(m["pages_per_s"]["value"], (5000 + 5000 / 1.2) / 2)
            self.assertAlmostEqual(m["graph_bytes_per_page"]["value"], 80.0)

    def test_per_layer_record_has_every_benchmark_name(self):
        for w in run.WORKLOADS:
            values = run.per_layer_metrics(fake_raw(w))
            values["failed_ops_ratio"] = 0.0
            self.assert_prints(run.render_metrics(values, run.per_layer_names()),
                               self.spec["per_layer"])

    def test_per_layer_values(self):
        m = run.per_layer_metrics(fake_raw("cold_sync"))
        self.assertAlmostEqual(m["trace.coverage"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.0 / 1.1)
        self.assertAlmostEqual(m["kg.facts.cpu_s"], 1.0)
        self.assertAlmostEqual(m["kg.facts.shuffle_mb"], 2.0)
        self.assertAlmostEqual(m["kg.facts.out_mb"], 2.0)
        self.assertEqual(m["kg.facts.jobs"], 5.0)
        self.assertAlmostEqual(m["kg.facts.serial_s"], 0.002)
        self.assertAlmostEqual(m["pipeline.scaling_eff"], 0.75)
        self.assertAlmostEqual(m["kg.extract.scaling_eff"], 0.75)
        self.assertAlmostEqual(m["kg.render.mb_per_s"], 2400.0)
        self.assertAlmostEqual(m["snapshot.carried_share"], 0.25)
        self.assertEqual(m["query.cached_mb"], 0.0)

    def test_query_pass_layers(self):
        m = run.per_layer_metrics(fake_raw("resync"))
        self.assertAlmostEqual(m["query.cached_mb"], 1.5)
        self.assertAlmostEqual(m[f"query.{run.QUERY_MIX[0]}.s"], 0.1)
        self.assertEqual(m["pipeline.scaling_eff"], 0.0)

    def test_benchmark_json_contract_shape(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds",
                                          "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))
        setup = [e for e in self.spec["end_to_end"] if e["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        bounds = [e["bound"] for e in self.spec["end_to_end"]]
        self.assertEqual(setup[0]["bound"], max(bounds))
        self.assertLessEqual(max(bounds), 0.25)
        self.assertLessEqual(len(self.spec["per_layer"]), 128)


class Correctness(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        ids = list(range(40))
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": ["x"] * 40,
            "lang": ["en" if i % 3 else "de" for i in ids]}),
            os.path.join(d, "documents.parquet"))
        self.pages = {"rep_from": 2, "rep_to": 4, "slice_mod": 10,
                      "slice_seed": 7, "left_out": 1}
        con = run.duck()
        self.expected = run.expected_triples(con, d, self.pages, TRIPLE_CTE,
                                             PREDICATES)

    def tearDown(self):
        self.tmp.cleanup()

    def write_got(self, rows):
        path = os.path.join(self.tmp.name, "got")
        os.makedirs(path, exist_ok=True)
        subj, pred, obj, n = zip(*rows)
        pq.write_table(pa.table({"subj": subj, "pred": pred, "obj": obj,
                                 "n_sources": pa.array(n, pa.int64())}),
                       os.path.join(path, "part-0.parquet"))
        return {"path": path, "pages": self.pages, "triple_cte": TRIPLE_CTE,
                "predicates": PREDICATES}

    def test_expected_triples_follow_the_corpus_arithmetic(self):
        # page i = doc_id + r * 10000, r in [2, 4), English docs only,
        # minus slice (i + 7) % 10 == 1
        pages = [d + r * 10000 for r in (2, 3) for d in range(40)
                 if d % 3 and (d + r * 10000 + 7) % 10 != 1]
        self.assertEqual(sum(n for *_, n in self.expected), len(pages))
        first = min(pages)
        s, o, p = first % 1000, (7 * first + 3) % 1000, first % 5
        self.assertIn((f"e{s:04d}", PREDICATES[p], f"e{o:04d}"),
                      [t[:3] for t in self.expected])

    def test_matching_triples_pass(self):
        ok, n = run.check_triples(self.tmp.name, self.write_got(self.expected))
        self.assertTrue(ok)
        self.assertEqual(n, len(self.expected))

    def test_corrupted_expected_triple_set_fails(self):
        """Negative test: a corrupted expected set must fail the check."""
        bad = list(self.expected)
        subj, pred, obj, n = bad[0]
        bad[0] = (subj, pred, obj, n + 1)
        ok, _ = run.check_triples(self.tmp.name, self.write_got(bad))
        self.assertFalse(ok)
        ok, _ = run.check_triples(self.tmp.name, self.write_got(self.expected[1:]))
        self.assertFalse(ok)

    def test_row_compare_has_no_concatenation_collision(self):
        a = pd.DataFrame({"x": [1], "y": [23]})
        b = pd.DataFrame({"x": [12], "y": [3]})
        self.assertFalse(run.same_rows(a, b))
        self.assertTrue(run.same_rows(a, a.copy()))

    def test_row_compare_ignores_row_and_column_order(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
        self.assertTrue(run.same_rows(a, b))


if __name__ == "__main__":
    unittest.main()
