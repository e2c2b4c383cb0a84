"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload route_batch --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. Builds the program and the harness
(perfbench/build.py), sizes the JVM from the host (nproc, /proc/meminfo),
runs the harness under a wall-clock watchdog, checks outputs, and prints a
report followed by one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (perfbench/workloads.json).
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import build  # noqa: E402

WORKLOADS = ["route_batch", "search_session"]
RUN_CAP_S = 150  # watchdog on one harness run (the build has its own cap)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def host():
    """nproc (this process's CPU set) and MemTotal in kB."""
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return nproc, mem_kb


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7] if len(xs) > 7 else 0, sum(xs[:8])
    except (OSError, ValueError):
        return 0, 0


def driver_heap(mem_kb):
    """An eighth of MemTotal, 1g..4g. The inputs are small; the rest of the
    machine belongs to other tenants."""
    gb = round(mem_kb / 8 / 1048576) if mem_kb else 2
    return f"{min(4, max(1, gb))}g"


def stop(proc):
    """Stop the harness and everything it started, then wait for it."""
    if proc.poll() is not None:
        return
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=wait)
            return
        except subprocess.TimeoutExpired:
            continue


def duckdb_funnel_check(events):
    """Every curate run (in route_batch's traced run) must give the stage
    table of Funnel.curationFunnelSql run in DuckDB over the same crawl.
    Returns (runs that differ, error or None)."""
    sql = next((e["sql"] for e in events if e["k"] == "input" and "sql" in e), None)
    runs = [e for e in events if e["k"] == "funnel"]
    if sql is None or not runs:
        return 0, None
    try:
        import duckdb
    except ImportError:
        return len(runs), "duckdb is not installed; the funnel cannot be checked"
    con = duckdb.connect()
    con.execute(f"SET threads TO {host()[0]}")
    want, bad, err = {}, 0, None
    for run in runs:
        path = run["crawl"]
        if path not in want:
            con.execute(f"CREATE OR REPLACE VIEW crawl AS "
                        f"SELECT * FROM read_parquet('{path}/*.parquet')")
            want[path] = {r[0]: (int(r[1]), None if r[2] is None else str(r[2]))
                          for r in con.execute(sql).fetchall()}
        got = {s["stage"]: (s["n_docs"], s["sig"]) for s in run["stages"]}
        if got != want[path]:
            bad += 1
            err = f"funnel stages {got} != DuckDB {want[path]}"
    return bad, err


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        print("error: run from the root of a graft checkout (src/main/scala/graft not found)",
              file=sys.stderr)
        return 2
    try:
        classes = build.build(root)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        print(f"error: build failed: {e}", file=sys.stderr)
        return 2

    nproc, mem_kb = host()
    threads = max(1, nproc)
    heap = driver_heap(mem_kb)
    scratch = os.path.join(root, ".bench_scratch", f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    atexit.register(shutil.rmtree, scratch, True)
    proc = None

    def on_signal(signum, _frame):
        if proc is not None:
            stop(proc)
        shutil.rmtree(scratch, True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    events_path = os.path.join(scratch, "events.jsonl")
    log_path = os.path.join(scratch, "harness.log")
    jars = os.path.join(build.spark_jars(), "*")
    # a fixed heap: when G1 resizes it, GC cadence and the heap figures
    # differ from run to run
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--threads", str(threads), "--scratch", scratch, "--events", events_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    error = None
    steal0 = cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            proc.wait(timeout=RUN_CAP_S)
        except subprocess.TimeoutExpired:
            error = f"watchdog: {args.workload} exceeded {RUN_CAP_S} s and was stopped"
        finally:
            stop(proc)
    steal1 = cpu_ticks()
    total = steal1[1] - steal0[1]
    steal = (steal1[0] - steal0[0]) / total if total > 0 else 0.0
    events = benchlib.read_events(events_path)
    if error is None and proc.returncode != 0:
        error = f"harness exited with code {proc.returncode}"
    if error is None and not any(e["k"] == "done" for e in events):
        error = "harness ended without finishing its event log"
    extra_failed, funnel_err = duckdb_funnel_check(events)
    metrics, report, complete, attempted, failed = benchlib.summarize(
        events, args.workload, args.trace == 1, extra_failed)
    if attempted == 0:
        attempted, failed = 1, 1  # nothing ran: the whole run is one failed op
    if error is None and not complete:
        error = "a metric could not be computed"

    # CPU time the hypervisor gave to other guests while the run was going:
    # wall-clock figures from a run with a high share are not comparable
    print(f"host: nproc={nproc} MemTotal={mem_kb} kB threads={threads} heap={heap} "
          f"steal={steal:.3f} workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    for line in report:
        print(line)
    errs = benchlib.op_errors(events) + ([funnel_err] if funnel_err else [])
    for e in errs:
        print("failed: " + " ".join(str(e).split())[:300])
    if error:
        print(f"error: {error}")
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
    correct = error is None and failed == 0
    print(f"correct: {str(correct).lower()} attempted={attempted} failed={failed}")
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": v, "unit": u} for m, (v, u, _) in metrics.items()
                    if v is not None},
    }
    print(json.dumps(result))
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
