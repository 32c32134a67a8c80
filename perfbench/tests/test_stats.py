"""Tests of the benchmark's own arithmetic (perfbench/stats.py).

Run from the root of the checkout:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


def op(kind, table="", ok=True, cause="", attempted=0, landed=0, skipped=0):
    return {"kind": kind, "table": table, "ok": ok, "cause": cause,
            "attempted": attempted, "landed": landed, "skipped": skipped}


def cycle(n, extract_s, rows, load_s=1.0, reload_s=0.5, verified=None,
          failed_tables=()):
    """A cycle over two tables, a (1/4 of the rows) and b (the rest);
    tables named in failed_tables fail their load and reload."""
    per = {"a": rows // 4, "b": rows - rows // 4}
    loads = [op("load", t, t not in failed_tables,
                "boom" if t in failed_tables else "", per[t],
                0 if t in failed_tables else per[t]) for t in per]
    reloads = [op("reload", t, t not in failed_tables,
                  "boom" if t in failed_tables else "", per[t], 0,
                  0 if t in failed_tables else per[t]) for t in per]
    return {"op": n, "seed_sql": "", "extract_s": extract_s,
            "load_s": load_s, "reload_s": reload_s, "gc_s": 0.1 * (n + 1),
            "rows_out": rows, "bytes": 100 * rows, "files": 2,
            "load_attempted": rows,
            "load_verified": rows if verified is None else verified,
            "reload_attempted": rows,
            "ops": [op("extract", attempted=rows)] + loads + reloads}


def raw(cycles, spans=(), errors=()):
    return {"workload": "point_extract", "seed": 1, "traced": bool(spans),
            "jvm_boot_s": 0.5, "setup_s": [9.0, 1.0, 2.0],
            "fast_path_budget": 200000, "peak_rss_mb": 1000.0,
            "errors": list(errors), "cycles": list(cycles),
            "spans": list(spans)}


def span(sid, name, op_, parent, start, end, **counters):
    s = {"id": sid, "name": name, "op": op_, "parent": parent, "table": "",
         "start_s": start, "end_s": end, "jobs": 0, "tasks": 0,
         "task_cpu_s": 0.0, "shuffle_bytes": 0, "input_rows": 0}
    s.update(counters)
    return s


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [float(i) for i in range(10, 0, -1)]  # 10 .. 1, unsorted
        self.assertEqual(stats.nearest_rank(xs, 0.5), 5.0)
        self.assertEqual(stats.nearest_rank(xs, 0.9), 9.0)
        self.assertEqual(stats.nearest_rank(xs, 1.0), 10.0)
        self.assertEqual(stats.nearest_rank([3.0], 0.9), 3.0)
        self.assertEqual(stats.nearest_rank([1.0, 2.0, 3.0, 4.0], 0.5), 2.0)
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 0.5)

    def test_samples_beyond(self):
        # p90 needs 100 samples to leave ten beyond it
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(99, 0.9), 9)
        self.assertEqual(stats.samples_beyond(10, 0.9), 1)
        self.assertEqual(stats.samples_beyond(4, 0.9), 0)
        self.assertEqual(stats.samples_beyond(20, 0.5), 10)
        self.assertEqual(stats.samples_beyond(1, 0.5), 0)


class Failures(unittest.TestCase):
    def test_every_extract_load_and_reload_is_one_op(self):
        r = raw([cycle(0, 1.0, 400, failed_tables=("a",)), cycle(1, 1.0, 400)])
        attempted, failed, causes = stats.failures(r)
        # per cycle: 1 extract + 2 loads + 2 reloads
        self.assertEqual(attempted, 10)
        self.assertEqual(failed, 2)
        self.assertEqual(causes, {"boom": 2})
        self.assertEqual(stats.end_to_end(r)["failed_op_frac"], 2 / 10)

    def test_failed_extract_counts(self):
        c = cycle(0, 1.0, 400)
        c["ops"][0].update(ok=False, cause="ms")
        self.assertEqual(stats.failures(raw([c]))[1], 1)

    def test_correct_needs_cycles_and_no_errors(self):
        self.assertTrue(stats.correct(raw([cycle(0, 1.0, 4)])))
        self.assertFalse(stats.correct(raw([])))
        self.assertFalse(stats.correct(raw([cycle(0, 1.0, 4)], errors=["x"])))


class EndToEnd(unittest.TestCase):
    def setUp(self):
        self.r = raw([cycle(0, 1.0, 100, load_s=2.0, reload_s=1.0, verified=50),
                      cycle(1, 3.0, 300, load_s=2.0, reload_s=3.0, verified=300),
                      cycle(2, 2.0, 600, load_s=4.0, reload_s=4.0, verified=600)])
        self.m = stats.end_to_end(self.r)

    def test_setup_is_boot_plus_median_setup(self):
        self.assertEqual(self.m["setup_s"], 0.5 + 2.0)

    def test_extract_percentiles(self):
        self.assertEqual(self.m["extract_p50_s"], 2.0)
        self.assertEqual(self.m["extract_p90_s"], 3.0)

    def test_ratio_bases_are_sums_not_means(self):
        # rows exported / extract wall time, over all cycles
        self.assertEqual(self.m["extract_rows_per_s"], 1000 / 6.0)
        # JSON bytes on disk / rows exported
        self.assertEqual(self.m["artifact_bytes_per_row"], 100.0)
        # rows verified in the target / fresh-load wall time
        self.assertEqual(self.m["load_rows_per_s"], 950 / 8.0)
        # rows attempted / reload wall time
        self.assertEqual(self.m["reload_rows_per_s"], 1000 / 8.0)
        self.assertEqual(self.m["peak_rss_mb"], 1000.0)

    def test_result_object(self):
        res = stats.result(self.r, traced=False)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((res["attempted"], res["failed"]), (15, 0))
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]), set(stats.END_TO_END))
        json.dumps(res, allow_nan=False)

    def test_empty_base_is_not_a_number(self):
        self.assertTrue(math.isnan(stats.ratio(1, 0)))
        r = raw([cycle(0, 0.0, 0)])
        res = stats.result(r, traced=False)
        self.assertFalse(res["correct"])
        self.assertIsNone(res["metrics"]["extract_rows_per_s"]["value"])


class Layers(unittest.TestCase):
    def test_covered_merges_overlaps(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.covered([(0, 4), (1, 2)]), 4)
        self.assertEqual(stats.covered([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(1, "extract", 0, 0, 0.0, 10.0),
                 span(2, "closure", 0, 1, 0.0, 6.0),
                 span(3, "json_write", 0, 1, 5.0, 8.0),
                 span(4, "json_write", 0, 1, 7.0, 9.0)]
        self.assertEqual(stats.self_times(spans)[1], 1.0)
        self.assertEqual(stats.self_times(spans)[2], 6.0)

    def test_cycle_layers(self):
        c = cycle(0, 10.0, 400, failed_tables=("b",))
        spans = [span(1, "extract", 0, 0, 0.0, 10.0),
                 span(2, "closure", 0, 1, 0.0, 6.0, jobs=3, tasks=9,
                      input_rows=2000, task_cpu_s=1.5, shuffle_bytes=7),
                 span(3, "json_write", 0, 1, 6.0, 9.0, jobs=2, task_cpu_s=0.5),
                 span(4, "load", 0, 0, 11.0, 14.0),
                 span(5, "load_plan", 0, 4, 11.0, 11.5),
                 span(6, "upsert", 0, 4, 11.5, 12.0, jobs=1, tasks=4),
                 span(7, "upsert", 0, 4, 12.0, 14.0, jobs=1, tasks=4),
                 span(8, "reload", 0, 0, 15.0, 16.0),
                 span(9, "reupsert", 0, 8, 15.0, 15.5, task_cpu_s=0.25)]
        m = stats.cycle_layers(c, spans)
        self.assertEqual(m["closure.s"], 6.0)
        self.assertEqual(m["closure.jobs"], 3)
        self.assertEqual(m["closure.input_rows_per_row_out"], 2000 / 400)
        self.assertEqual(m["json_write.s"], 3.0)
        self.assertEqual(m["json_write.bytes"], 40000)
        self.assertEqual(m["load_plan.s"], 0.5)
        self.assertEqual(m["upsert.s"], 2.5)
        self.assertEqual(m["upsert.partitions"], 8)
        # table a (100 rows) landed, b (300 rows) failed
        self.assertEqual(m["upsert.rows_landed"], 100)
        self.assertEqual(m["upsert.landed_frac"], 100 / 400)
        self.assertEqual(m["upsert.failed_tables"], 1)
        self.assertEqual(m["reupsert.rows_skipped_frac"], 100 / 400)
        self.assertEqual(m["reupsert.failed_tables"], 1)
        self.assertEqual(m["reupsert.task_cpu_s"], 0.25)
        # extract 1 s + load 0 s + reload 0.5 s not covered by child spans
        self.assertEqual(m["op.other_s"], 1.5)

    def test_per_layer_is_median_over_measured_cycles(self):
        cycles = [cycle(i, 1.0, 100 * (i + 1)) for i in range(3)]
        # a warm-up span (negative op) must not count
        spans = [span(1, "closure", -1, 0, 0.0, 50.0)] + [
            span(10 + i, "closure", i, 0, 0.0, float(i + 1)) for i in range(3)]
        m = stats.per_layer(raw(cycles, spans))
        self.assertEqual(m["closure.s"], 2.0)
        self.assertEqual(m["closure.rows_out"], 200)
        self.assertEqual(m["jvm.gc_s"], 0.2)
        self.assertEqual(set(m), set(stats.PER_LAYER))


class BenchmarkJson(unittest.TestCase):
    def test_metric_names_and_units_match(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         stats.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
