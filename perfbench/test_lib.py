"""Tests of the benchmark's own logic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import lib  # noqa: E402
import run  # noqa: E402


def trace(executions, jobs, stages):
    """A tracer file's content, already in seconds, from short tuples."""
    ex = [{"id": i, "root": r, "start": s, "end": e, "func": f,
           "description": d, "writes": w, "reads": [], "ok": True,
           "compile_ns": 1_000_000, "classes": 1,
           "phases_ms": {"analysis": 1, "optimization": 2, "planning": 3},
           "plan": {"exchanges": 1, "smj": 0, "bhj": 1}}
          for i, r, s, e, f, d, w in executions]
    jb = [{"id": i, "exec": x, "start": s, "end": e, "ok": True, "stages": []}
          for i, x, s, e in jobs]
    st = []
    for i, job, tasks in stages:
        m = {k: 0 for k in lib.STAGE_SUMS}
        m.update(task_cpu_ns=2_000_000, peak_task_mem=2 ** 20,
                 tasks_ended=tasks, shuffle_write_bytes=100)
        st.append({"id": i, "attempt": 0, "job": job, "name": f"s{i}",
                   "tasks": tasks, "start": 0, "end": 0, "ok": True, "metrics": m})
    return {"app": {"start": 0, "end": 100, "compile_ns": 9_000_000, "classes": 9},
            "executions": ex, "jobs": jb, "stages": st}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        self.assertEqual(lib.percentile(range(1, 11), 50), 5)
        self.assertEqual(lib.percentile(range(1, 101), 95), 95)
        self.assertEqual(lib.percentile([3.0], 99), 3.0)

    def test_tail_leaves_ten_samples_beyond(self):
        # the full census: 249 rows, p95 leaves 12 beyond, p96 only 9
        self.assertEqual(lib.tail_percentile(249), 95)
        self.assertEqual(lib.tail_percentile(45), 77)
        self.assertEqual(lib.tail_percentile(20), 50)
        self.assertIsNone(lib.tail_percentile(19))
        for n in (20, 45, 100, 249, 1000):
            p = lib.tail_percentile(n)
            beyond = sum(1 for v in range(1, n + 1) if v > lib.percentile(range(1, n + 1), p))
            self.assertGreaterEqual(beyond, 10)
            if p < 99:
                nxt = lib.percentile(range(1, n + 1), p + 1)
                self.assertLess(sum(1 for v in range(1, n + 1) if v > nxt), 10)


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_overhang(self):
        spans = [{"id": "p", "parent": None, "start": 0.0, "end": 10.0},
                 {"id": "a", "parent": "p", "start": 1.0, "end": 3.0},
                 {"id": "b", "parent": "p", "start": 2.0, "end": 5.0},
                 {"id": "c", "parent": "p", "start": 8.0, "end": 12.0},
                 {"id": "d", "parent": "b", "start": 2.5, "end": 3.5}]
        st = lib.self_times(spans)
        # children cover [1,5] and [8,10] of the parent: 6 of 10 s
        self.assertAlmostEqual(st["p"], 4.0)
        self.assertAlmostEqual(st["a"], 2.0)
        self.assertAlmostEqual(st["b"], 2.0)
        self.assertAlmostEqual(st["c"], 4.0)
        self.assertAlmostEqual(st["d"], 1.0)

    def test_covered_ignores_empty_and_outside(self):
        self.assertAlmostEqual(lib.covered([(5, 4), (20, 30), (-5, 1)], 0, 10), 1.0)


class Attribution(unittest.TestCase):
    # a pipeline that writes stage a, counts it, runs a helper action
    # and a sub-execution, writes and counts b, writes xml parts, then
    # writes and counts c
    T = trace(
        executions=[
            (0, 0, 1.0, 2.0, "command", "parquet at P.scala:20", ["out/a"]),
            (1, 1, 2.1, 2.2, "count", "count at P.scala:26", []),
            (2, 2, 2.3, 2.5, "collect", "collect at Helper.scala:9", []),
            (3, 3, 2.6, 3.0, "command", "parquet at P.scala:20", ["out/b"]),
            (4, 3, 2.7, 2.8, "isEmpty", "", []),
            (5, 5, 3.1, 3.2, "count", "count at P.scala:26", []),
            (6, 6, 3.3, 3.6, "command", "text at Sinks.scala:33", ["out/xml_parts"]),
            (7, 7, 3.9, 4.0, "command", "text at Sinks.scala:62", ["out/c"]),
            (8, 8, 4.1, 4.2, "count", "count at P.scala:95", [])],
        jobs=[(0, 0, 1.1, 1.9), (1, 1, 2.1, 2.2), (2, 4, 2.7, 2.8),
              (3, -1, 2.55, 2.58), (4, 7, 3.9, 4.0)],
        stages=[(0, 0, 4), (1, 0, 1), (2, 1, 1), (3, 2, 1), (4, 3, 2), (5, 4, 1)])
    SPEC = [("a", "count", 1), ("b", "count", 1), ("xml", "write", 1), ("c", "count", 1)]

    def test_stages_from_counts_and_writes(self):
        spans = lib.attribute_stages(self.T, self.SPEC, "P.scala", 0.5, 4.5)
        self.assertEqual([s["name"] for s in spans], ["a", "b", "xml", "c"])
        a, b, xml, c = spans
        self.assertEqual((a["start"], a["end"]), (0.5, 2.2))
        self.assertEqual(a["exec_ids"], {0, 1})
        # the helper, the write with its sub-execution and the count
        self.assertEqual(b["exec_ids"], {2, 3, 4, 5})
        self.assertEqual(b["job_ids"], {3})  # plain RDD job inside b
        # a write stage keeps the driver-side time up to the next execution
        self.assertEqual((xml["start"], xml["end"]), (3.2, 3.9))
        self.assertEqual((c["start"], c["end"]), (3.9, 4.5))

    def test_spec_that_does_not_fit(self):
        self.assertIsNone(lib.attribute_stages(
            self.T, self.SPEC + [("d", "count", 1)], "P.scala", 0.5, 4.5))

    def test_pipeline_that_does_not_fit_has_no_spans(self):
        inv = {"main": "graft.ReleasePipeline", "work_start": 0.5, "work_end": 4.5}
        self.assertEqual(run.spans_of("release", inv, self.T, {}), (None, None))

    def test_counters_of_a_span(self):
        b = lib.attribute_stages(self.T, self.SPEC, "P.scala", 0.5, 4.5)[1]
        c = lib.counters(self.T, b["exec_ids"], b["job_ids"])
        self.assertEqual((c["sql_executions"], c["jobs"], c["stages"]), (4, 2, 2))
        self.assertEqual(c["tasks_ended"], 3)
        self.assertEqual(c["single_task_stages"], 1)
        self.assertEqual(c["shuffle_write_bytes"], 200)
        self.assertAlmostEqual(c["task_cpu_ms"], 4.0)
        self.assertEqual((c["planning_ms"], c["exchanges"], c["bhj"]), (12, 4, 4))
        self.assertAlmostEqual(c["compile_ms"], 4.0)

    def test_whole_trace_uses_application_codegen(self):
        c = lib.counters(self.T)
        self.assertEqual((c["jobs"], c["stages"], c["tasks_ended"]), (5, 6, 10))
        self.assertEqual((c["compile_ms"], c["classes"]), (9.0, 9))

    def test_rows_by_time_window(self):
        rows = [{"name": "q1", "sec": 0.4, "end": 2.45},
                {"name": "q2", "sec": 1.7, "end": 4.3}]
        s1, s2 = lib.attribute_rows(self.T, rows)
        self.assertEqual(s1["exec_ids"], {1, 2})
        self.assertEqual(s2["exec_ids"], {3, 4, 5, 6, 7, 8})
        # job 3 starts before q2's own start (2.6) but after q1's line
        # arrived, so it is q2's
        self.assertEqual((s1["job_ids"], s2["job_ids"]), (set(), {3}))
        self.assertAlmostEqual(s2["start"], 2.6)


class Parsing(unittest.TestCase):
    BENCH = [
        (1.0, "26/10/17 WARN NativeCodeLoader: Unable to load\n"),
        (2.0, '{"query":"warm_agg_frames","sec":1.003,"ok":true}\n'),
        (3.0, '{"query":"agg_min_pair","sec":0.25,"ok":true,"spill_mb":3}\n'),
        (4.0, '{"query":"agg_broken","sec":0.01,"ok":false}\n'),
        (5.0, '{"metric":"total","value":1.253,"unit":"sec","queries":{},"failed":["agg_broken"]}\n'),
        (5.1, '{"metric":"total","value":1.253,"unit":"sec","sf":"d","n_queries":2,'
              '"n_failed":1,"detail":"x.json"}\n')]

    def test_bench_rows_and_summary(self):
        rows, summary = lib.bench_output(self.BENCH)
        self.assertEqual([r["name"] for r in rows],
                         ["warm_agg_frames", "agg_min_pair", "agg_broken"])
        self.assertEqual(rows[1], {"name": "agg_min_pair", "sec": 0.25, "ok": True, "end": 3.0})
        self.assertFalse(rows[2]["ok"])
        self.assertEqual((summary["n_queries"], summary["n_failed"]), (2, 1))

    def test_census_check_counts_failed_and_missing_rows(self):
        rows, summary = lib.bench_output(self.BENCH)
        res, attempted, failed = checks.census(
            [(rows, summary)], [["agg_min_pair", "agg_broken", "agg_missing"]])
        self.assertEqual((attempted, failed), (3, 2))
        self.assertFalse(all(ok for _, ok, _ in res))

    def test_pipeline_final_line(self):
        lines = [(1.0, "java.io.FileNotFoundException: File x does not exist\n"),
                 (2.0, '{"pipeline":"release","sf":"d","sec":16.97,'
                       '"stages":{"protein2matches":72801,"match_complete.xml":1}}\n')]
        t, o = lib.pipeline_output(lines)
        self.assertEqual(t, 2.0)
        self.assertEqual(o["sec"], 16.97)
        self.assertEqual(list(o["stages"]), ["protein2matches", "match_complete.xml"])
        self.assertEqual(lib.pipeline_output(lines[:1]), (None, None))


class Tables(unittest.TestCase):
    # Schemas read from the parquet footers of the fixed seed-42 sf0.01
    # tables. All timestamps there are microseconds without a time zone
    # (parquet isAdjustedToUTC=false); FIXTURES.md's ms/ns units are
    # those of an older generation of the tables.
    FIXED = {
        "region": "r_regionkey int32, r_name string",
        "nation": "n_nationkey int32, n_name string, n_regionkey int32",
        "customer": "c_custkey int64, c_name string, c_nationkey int32, "
                    "c_acctbal double, c_mktsegment string",
        "supplier": "s_suppkey int64, s_name string, s_nationkey int32, s_acctbal double",
        "part": "p_partkey int64, p_name string, p_brand string, p_type string, "
                "p_size int32, p_retailprice double",
        "orders": "o_orderkey int64, o_custkey int64, o_orderstatus string, "
                  "o_totalprice double, o_orderdate timestamp[us], o_orderpriority string",
        "lineitem": "l_orderkey int64, l_partkey int64, l_suppkey int64, "
                    "l_linenumber int32, l_quantity double, l_extendedprice double, "
                    "l_discount double, l_tax double, l_returnflag string, "
                    "l_linestatus string, l_shipdate timestamp[us]",
        "events": "event_id int64, ts timestamp[us], user_id int64, "
                  "event_type string, value double, props string",
        "documents": "doc_id int64, text string, lang string, source string, n_chars int64",
        "embeddings": "vec_id int64, embedding list<element: float>, label int32",
    }

    def test_generated_footers_are_the_fixed_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(d, 3)
            self.assertEqual(sorted(os.listdir(d)), sorted(f"{n}.parquet" for n in gen.TABLES))
            for name in gen.TABLES:
                f = pq.ParquetFile(os.path.join(d, f"{name}.parquet"))
                self.assertEqual(", ".join(f"{x.name} {x.type}"
                                           for x in f.schema.to_arrow_schema()),
                                 self.FIXED[name], name)
                self.assertEqual(f.metadata.num_rows, gen.SIZES.get(name, f.metadata.num_rows))

    def test_same_seed_same_tables(self):
        a, b = gen.tables(5), gen.tables(5)
        self.assertTrue(all(a[n].equals(b[n]) for n in a))
        self.assertFalse(a["lineitem"].equals(gen.tables(6)["lineitem"]))


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_what_run_prints(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to this directory")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {k: u for k, (_, u) in run.PER_LAYER.items()})
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
