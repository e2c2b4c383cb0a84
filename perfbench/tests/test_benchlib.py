"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.percentile(list(range(19)), 0.5))
        self.assertEqual(benchlib.percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(benchlib.percentile(list(range(99)), 0.9))
        self.assertEqual(benchlib.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank_ignores_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
        self.assertEqual(benchlib.percentile(xs, 0.5), 3.0)

    def test_empty(self):
        self.assertIsNone(benchlib.percentile([], 0.5))

    def test_report_says_too_few(self):
        events = [{"k": "setup", "s": 1.0}, {"k": "sample", "name": "heap_jobs_open_mb", "v": 9.0},
                  {"k": "input", "clients": 2}]
        events += [{"k": "sample", "name": n, "v": float(i)} for i in range(30)
                   for n in ("first_page_ms", "session_ms")]
        metrics, report, complete, _, _ = benchlib.summarize(events, "search_session", False)
        self.assertEqual(metrics["latency_p50_ms"][0], 14.0)
        # two clients, median session 14.5 ms
        self.assertAlmostEqual(metrics["throughput_per_s"][0], 2000 / 14.5)
        self.assertTrue(complete)
        p90 = [r for r in report if "search_first_page_p90_ms" in r]
        self.assertIn("too few samples", p90[0])


def landed(i, t, rows=100, phase="base"):
    return {"k": "landed", "file": i, "name": f"f{i:05d}.parquet", "phase": phase,
            "rate": 5000, "rows": rows, "due_ms": t, "t_ms": t}


def progress(q, batch, start, dur, rows=100, offset=None):
    return {"k": "progress", "query": q, "batch": batch, "start_ms": start, "rows": rows,
            "log_offset": batch if offset is None else offset,
            "durations": {"triggerExecution": dur}, "state_rows": 0, "state_bytes": 0}


class Freshness(unittest.TestCase):
    def test_slowest_query_sets_freshness(self):
        files = [landed(0, 1000), landed(1, 1200)]
        prog = [progress("a", 0, 1100, 300), progress("b", 0, 1050, 100),
                progress("b", 1, 1300, 500)]
        batch_files = {"a": {"f00000.parquet": 0, "f00001.parquet": 0},
                       "b": {"f00000.parquet": 0, "f00001.parquet": 1}}
        fresh = benchlib.freshness(files, prog, batch_files, queries=["a", "b"])
        # file 0: a ends 1400, b ends 1150 -> 400; file 1: a 1400, b 1800 -> 600
        self.assertEqual(fresh, [400, 600])

    def test_no_data_batch_shifts_batch_ids(self):
        # batch 1 reads no data (log offset stays 0); batch 2 reads offset 1
        files = [landed(0, 1000), landed(1, 1200)]
        prog = [progress("a", 0, 1100, 300, offset=0), progress("a", 1, 1500, 50, offset=0),
                progress("a", 2, 1600, 400, offset=1)]
        batch_files = {"a": {"f00000.parquet": 0, "f00001.parquet": 1}}
        fresh = benchlib.freshness(files, prog, batch_files, queries=["a"])
        self.assertEqual(fresh, [400, 800])

    def test_unread_file_has_no_freshness(self):
        files = [landed(0, 1000), landed(1, 1200)]
        prog = [progress("a", 0, 1100, 300)]
        fresh = benchlib.freshness(files, prog, {"a": {"f00000.parquet": 0}}, queries=["a"])
        self.assertEqual(fresh, [400, None])

    def test_backlog(self):
        files = [landed(0, 1000), landed(1, 1200), landed(2, 1400)]
        finished = [1500, 1500, None]
        self.assertEqual(benchlib.backlog_at(files, finished, 1300), 2)
        self.assertEqual(benchlib.backlog_at(files, finished, 1600), 1)


class StreamMetrics(unittest.TestCase):
    def events(self):
        files = [landed(0, 0, phase="warm"), landed(1, 1000), landed(2, 1200)]
        # batch 0 reads the warm file, batch 1 files 1 and 2; the ingest
        # query reads each of its batches twice
        prog = [progress(q, b, 100 + 1000 * b, 400,
                         rows=(1 + b) * 100 * (2 if q == "ingest" else 1))
                for q in benchlib.QUERIES for b in (0, 1)]
        names = {"f00000.parquet": 0, "f00001.parquet": 1, "f00002.parquet": 1}
        return files + prog + [{"k": "batch_files", "query": q, "files": names}
                               for q in benchlib.QUERIES]

    def test_parses_per_row_counts_every_read(self):
        out = benchlib.stream_metrics(self.events())
        # 300 rows landed: each view read them once, the ingest twice
        self.assertAlmostEqual(out["streaming.parses_per_row"], 4.0)

    def test_base_phase_only(self):
        out = benchlib.stream_metrics(self.events())
        # batch 1 ends at 1100 + 400: files 1 and 2 are 500 and 300 ms old
        self.assertEqual(out["streaming.fresh_p50_ms"], 400)  # mean: too few for a p50
        self.assertEqual(out["streaming.backlog_files_max"], 2)
        self.assertEqual(out["streaming.generator_late_ms_max"], 0)

    def test_no_stream_phase(self):
        self.assertEqual(benchlib.stream_metrics(op(1, "route_job", True)), {})


def op(i, kind, ok=None):
    out = [{"k": "op_start", "id": i, "kind": kind, "t": 0.0}]
    if ok is not None:
        out.append({"k": "op_end", "id": i, "ok": ok, "t": 1.0, "err": None if ok else "x"})
    return out


class ErrorRate(unittest.TestCase):
    def test_every_attempt_counts(self):
        events = op(1, "route_job", True) + op(2, "route_job", False) + op(3, "check.x", True)
        self.assertEqual(benchlib.error_accounting(events), (3, 1))

    def test_unfinished_op_is_failed(self):
        # a run stopped by the watchdog leaves op_start without op_end
        events = op(1, "http.startJob", True) + op(2, "http.jobStats")
        self.assertEqual(benchlib.error_accounting(events), (2, 1))

    def test_failed_check_outside_the_log_counts(self):
        events = op(1, "curate_run", True) + op(2, "curate_run", True)
        self.assertEqual(benchlib.error_accounting(events, extra_failed=1), (2, 1))

    def test_error_rate_in_summary(self):
        events = [{"k": "setup", "s": 1.0}, {"k": "sample", "name": "heap_after_gc_mb", "v": 1.0}]
        events += op(1, "route_job", True) + op(2, "route_job", False)
        events += [{"k": "sample", "name": n, "v": 1.0} for n in ("latency_ms", "throughput_per_s")]
        metrics, report, _, attempted, failed = benchlib.summarize(events, "route_batch", True)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(metrics["error_rate"][0], 0.5)


class HeapPeak(unittest.TestCase):
    def events(self):
        return [{"k": "setup", "s": 1.0}] + [
            {"k": "sample", "name": n, "v": v}
            for n, v in [("heap_idle_mb", 80.0), ("heap_after_gc_mb", 200.0),
                         ("heap_after_gc_mb", 150.0), ("heap_jobs_open_mb", 90.0),
                         ("heap_idle_mb", 85.0)]]

    def test_route_counts_collections_in_the_window(self):
        metrics = benchlib.summarize(self.events(), "route_batch", False)[0]
        self.assertEqual(metrics["heap_peak_mb"][0], 200.0)

    def test_search_counts_the_open_jobs(self):
        metrics = benchlib.summarize(self.events(), "search_session", False)[0]
        self.assertEqual(metrics["heap_peak_mb"][0], 90.0)


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [{"id": 1, "parent": 0, "name": "root", "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "name": "a", "start": 1.0, "end": 4.0},
                 {"id": 3, "parent": 1, "name": "b", "start": 3.0, "end": 6.0}]
        st = benchlib.self_times(spans)
        self.assertEqual(st["root"], [5.0])
        self.assertEqual(st["a"], [3.0])


class BenchmarkJson(unittest.TestCase):
    """BENCHMARK.json lists exactly the metrics run.py prints."""

    def setUp(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end(self):
        got = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(got, benchlib.END_TO_END)

    def test_per_layer(self):
        got = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(got, benchlib.PER_LAYER)

    def test_workloads_have_names(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertTrue(set(names) <= set(benchlib.ALIASES))


if __name__ == "__main__":
    unittest.main()
