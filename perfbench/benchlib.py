"""Turns a harness event log into the benchmark's metrics.

The Scala harness (perfbench/src) records raw observations, one JSON object
per line: operations (op_start / op_end), timing samples, landing times,
streaming progress, spans. Everything statistical happens here, so the rules
are in one place and unit-tested (perfbench/tests):

- a latency percentile is reported only with at least ten samples beyond it;
- every attempted operation counts toward error_rate, and one that never
  ended (a stuck run) counts as failed;
- stream freshness is matched from landing times and query progress.
"""
import json
import math
import statistics

SHAPES = ["fragment", "wildcard", "field", "in", "not", "source", "rex",
          "where", "stats", "table", "surrounding"]
QUERIES = ["ingest", "histogram", "fieldcells"]

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "heap_peak_mb": "MB",
}

# per-layer metrics, printed by every traced run; a layer that a workload's
# traced run does not reach reads 0 there. The ml layer is measured in
# route_batch's traced run, the streaming layer in search_session's.
PER_LAYER = dict(
    [(m, "s") for m in ["sources.scan_s", "functions.parse_s", "plans.enrich_s",
                        "plans.route_s", "plans.route_map_task_s",
                        "plans.route_write_task_s", "plans.aggregate_s", "jvm.gc_s"]]
    + [("plans.route_shuffle_mb", "MB"), ("plans.route_skew", "ratio"),
       ("plans.route_files", "count"), ("plans.route_out_bytes_per_in_byte", "ratio"),
       ("plans.route_scale_eff", "ratio")]
    + [(m, "ms") for m in ["compile.compile_ms", "api.start_job_ms", "api.stats_p50_ms",
                           "api.stats_max_ms", "api.page_ms", "api.field_stats_ms"]]
    + [(f"api.first_page_ms.{s}", "ms") for s in SHAPES]
    + [("api.rows_read_per_match", "ratio"), ("api.cache_mb", "MB"),
       ("api.jobs_live_at_end", "count")]
    + [(f"streaming.{q}.{m}", u) for q in QUERIES
       for m, u in [("trigger_ms", "ms"), ("addbatch_ms", "ms"),
                    ("bookkeeping_ms", "ms"), ("rows_per_trigger", "count")]]
    + [("streaming.fresh_p50_ms", "ms"), ("streaming.parses_per_row", "ratio"),
       ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
       ("streaming.backlog_files_max", "count"), ("streaming.generator_late_ms_max", "ms")]
    + [("ml.funnel_s", "s"), ("ml.survivors_write_s", "s"), ("ml.shuffle_mb", "MB"),
       ("ml.kept_frac", "ratio")]
    + [("trace.overhead_pct", "%"), ("error_rate", "ratio")]
)

# the workload-specific names of the end-to-end metrics, for the report
ALIASES = {
    "route_batch": {"throughput_per_s": "route_rows_per_s",
                    "latency_p50_ms": "route_job_ms"},
    "search_session": {"throughput_per_s": "search_sessions_per_s",
                       "latency_p50_ms": "search_first_page_p50_ms"},
}

BOOKKEEPING = ["walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch"]


def read_events(path):
    out = []
    try:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    out.append(json.loads(line))
                except ValueError:
                    break  # a line cut off by a kill ends the log
    except FileNotFoundError:
        pass
    return out


# ------------------------------------------------------------------ statistics

def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile, or None unless `beyond` samples lie above it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        return None
    return sorted(values)[rank - 1]


def p50_or_mean(values):
    """The median when the percentile rule allows it, else the mean."""
    p = percentile(values, 0.5)
    return statistics.fmean(values) if p is None else p


def rep_median(values):
    """Median of repeated whole runs of a batch job (not a latency percentile)."""
    return statistics.median(values) if values else None


def error_accounting(events, extra_failed=0):
    """(attempted, failed): an op succeeds only with an op_end ok=true."""
    started = {e["id"] for e in events if e.get("k") == "op_start"}
    ok = {e["id"] for e in events if e.get("k") == "op_end" and e.get("ok")}
    attempted = len(started)
    failed = len(started - ok) + extra_failed
    return attempted, min(failed, attempted) if attempted else failed


def op_errors(events, limit=5):
    errs = [f'{e.get("kind", "")}#{e["id"]}: {e.get("err")}' for e in events
            if e.get("k") == "op_end" and not e.get("ok")]
    return errs[:limit]


def self_times(spans):
    """Span name -> list of self times (ms): duration minus the part of the
    span's interval that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.setdefault(s["name"], []).append((s["end"] - s["start"]) - covered)
    return out


# -------------------------------------------------------------------- streaming

def finish_times(landed, progress, batch_files, queries=QUERIES):
    """Per landed file (in landing order): the time its slowest query ended
    the batch that read it, or None if some query never read it. The file
    source's log gives the offset at which it took each file in
    (`batch_files`); the first completed batch of the query whose log
    offset reached it read the file. Batch ids cannot stand in for offsets:
    a stateful query's no-data batches advance one and not the other."""
    done = {}
    for p in sorted(progress, key=lambda p: p["batch"]):
        done.setdefault(p["query"], []).append(
            (p["log_offset"], p["start_ms"] + p["durations"].get("triggerExecution", 0)))

    def end(q, offset):
        if offset is None:
            return None
        return next((t for o, t in done.get(q, []) if o >= offset), None)
    out = []
    for f in sorted(landed, key=lambda f: f["file"]):
        ts = [end(q, batch_files.get(q, {}).get(f["name"])) for q in queries]
        out.append(None if None in ts else max(ts))
    return out


def freshness(landed, progress, batch_files, queries=QUERIES):
    """Per landed file: ms from landing until its rows were in every view."""
    fin = finish_times(landed, progress, batch_files, queries)
    return [None if t is None else t - f["t_ms"]
            for f, t in zip(sorted(landed, key=lambda f: f["file"]), fin)]


def backlog_at(landed, finished, t_ms):
    """Files landed by t_ms that some query had not finished by t_ms."""
    return sum(1 for f, t in zip(sorted(landed, key=lambda f: f["file"]), finished)
               if f["t_ms"] <= t_ms and (t is None or t > t_ms))


def stream_metrics(events):
    """The streaming.* figures of one stream phase: freshness and backlog
    from landing times and progress, the rest from the progress events."""
    landed = sorted((e for e in events if e["k"] == "landed"), key=lambda f: f["file"])
    progress = [e for e in events if e["k"] == "progress"]
    batch_files = {e["query"]: e["files"] for e in events if e["k"] == "batch_files"}
    if not landed:
        return {}
    fin = finish_times(landed, progress, batch_files)
    fresh = freshness(landed, progress, batch_files)
    out = {}
    base = [x for f, x in zip(landed, fresh) if f["phase"] == "base" and x is not None]
    if base:
        out["streaming.fresh_p50_ms"] = p50_or_mean(base)
    out["streaming.backlog_files_max"] = max(
        backlog_at(landed, fin, f["t_ms"]) for f in landed if f["phase"] == "base")
    out["streaming.generator_late_ms_max"] = max(
        [f["t_ms"] - f["due_ms"] for f in landed if f["phase"] == "base"], default=0)
    total_landed = sum(f["rows"] for f in landed)
    out["streaming.parses_per_row"] = sum(p["rows"] for p in progress) / total_landed
    out["streaming.state_rows"] = max([p["state_rows"] for p in progress], default=0)
    out["streaming.state_mb"] = max([p["state_bytes"] for p in progress], default=0) / 1048576.0
    for q in QUERIES:
        ps = [p for p in progress if p["query"] == q and p["rows"] > 0]
        d = lambda p, k: p["durations"].get(k, 0)  # noqa: E731
        out[f"streaming.{q}.trigger_ms"] = rep_median([d(p, "triggerExecution") for p in ps]) or 0
        out[f"streaming.{q}.addbatch_ms"] = rep_median([d(p, "addBatch") for p in ps]) or 0
        out[f"streaming.{q}.bookkeeping_ms"] = rep_median(
            [sum(d(p, k) for k in BOOKKEEPING) for p in ps]) or 0
        out[f"streaming.{q}.rows_per_trigger"] = rep_median([p["rows"] for p in ps]) or 0
    return out


# --------------------------------------------------------------------- summary

def samples_of(events, name):
    return [e["v"] for e in events if e["k"] == "sample" and e["name"] == name]


def summarize(events, workload, trace, extra_failed=0):
    """Returns (metrics {name: (value, unit, n)}, report lines, complete)."""
    vals, counts = {}, {}
    setups = [e["s"] for e in events if e["k"] == "setup"]
    vals["setup_s"], counts["setup_s"] = rep_median(setups), len(setups)
    # the peak of the heap in use after a collection, over the full GCs
    # before and after the window and the heap the work holds: for a route
    # job, its task memory, seen by the collections during the window; for
    # search, the jobs left open, seen by a full GC at the window's end. The
    # search window's collections are young ones, whose figure grows with
    # promoted garbage from run to run, so they do not count there.
    heap = samples_of(events, "heap_after_gc_mb")
    idle = samples_of(events, "heap_idle_mb")
    held = heap if workload == "route_batch" else samples_of(events, "heap_jobs_open_mb")
    vals["heap_peak_mb"] = max(held + idle) if held + idle else None
    counts["heap_peak_mb"] = len(held + idle)

    if workload == "route_batch":
        for m in ("throughput_per_s", "latency_ms"):
            xs = samples_of(events, m)
            key = "latency_p50_ms" if m == "latency_ms" else m
            vals[key], counts[key] = rep_median(xs), len(xs)
    elif workload == "search_session":
        fp = samples_of(events, "first_page_ms")
        vals["latency_p50_ms"], counts["latency_p50_ms"] = percentile(fp, 0.5), len(fp)
        vals["search_first_page_p90_ms"] = percentile(fp, 0.9)
        counts["search_first_page_p90_ms"] = len(fp)
        # closed loop, no think time: rate = clients / session time
        sess = samples_of(events, "session_ms")
        clients = next((e["clients"] for e in events if e["k"] == "input" and "clients" in e), 0)
        vals["throughput_per_s"] = clients * 1000.0 / rep_median(sess) if sess else None
        counts["throughput_per_s"] = len(sess)

    attempted, failed = error_accounting(events, extra_failed)
    vals["error_rate"] = failed / attempted if attempted else 1.0
    counts["error_rate"] = attempted

    if trace:
        units = PER_LAYER
        layer = {m: 0.0 for m in units}
        for e in events:
            if e["k"] == "metric" and e["name"] in layer:
                layer[e["name"]] = e["v"]
        layer.update(stream_metrics(events))
        for name in ("compile.compile_ms", "api.start_job_ms", "api.page_ms",
                     "api.field_stats_ms"):
            xs = samples_of(events, name)
            if xs:
                layer[name] = p50_or_mean(xs)
        st = samples_of(events, "api.stats_ms")
        if st:
            layer["api.stats_p50_ms"] = p50_or_mean(st)
            layer["api.stats_max_ms"] = max(st)  # a traced run has too few for a p90
        for s in SHAPES:
            xs = samples_of(events, f"api.first_page_ms.{s}")
            if xs:  # mean per shape: a few samples each, so no percentile
                layer[f"api.first_page_ms.{s}"] = statistics.fmean(xs)
        spans = [e for e in events if e["k"] == "span"]
        selfs = self_times(spans)
        for name, key in (("ml.curationFunnelOnePass", "ml.funnel_s"),
                          ("ml.survivors_write", "ml.survivors_write_s")):
            if name in selfs:
                layer[key] = rep_median(selfs[name]) / 1000.0
        on, off = samples_of(events, "trace.on_ms"), samples_of(events, "trace.off_ms")
        if on and off:
            layer["trace.overhead_pct"] = (statistics.median(on) / statistics.median(off) - 1) * 100
        layer["error_rate"] = vals["error_rate"]
        metrics = {m: (layer[m], units[m], None) for m in units}
        report = [f"span self time: {name} n={len(xs)} median={statistics.median(xs):.2f} ms"
                  for name, xs in sorted(selfs.items())]
    else:
        metrics = {m: (vals.get(m), END_TO_END[m], counts.get(m)) for m in END_TO_END}
        report = [f"heap after GC: {len(heap)} collections in the window, peak "
                  f"{max(heap, default=0):.1f} MB; full GCs before / after it "
                  + " / ".join(f"{x:.1f}" for x in idle) + " MB"]

    # the human-readable report: every end-to-end figure by its workload name
    alias = ALIASES.get(workload, {})
    for m in list(END_TO_END) + ["search_first_page_p90_ms", "error_rate"]:
        if m in vals and not (trace and vals[m] is None):
            v = vals[m]
            unit = END_TO_END.get(m, "ms" if m.endswith("_ms") else "ratio")
            shown = "n/a (too few samples)" if v is None else f"{v:.6g}"
            report.append(f"{workload} {alias.get(m, m)} = {shown} {unit} (n={counts.get(m)})")
    complete = all(v is not None for v, _, _ in metrics.values())
    return metrics, report, complete, attempted, failed
