"""Benchmark of the extraction engine: seeded workloads, checked outputs.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``--workload all`` runs every workload
of BENCHMARK.json, one after another, and prints each one's metrics.

Load model: closed loop.  One driver process submits one batch job at a
time to ``local[nproc]`` and submits the next when the previous one has
committed, until the timed jobs add up to ``--seconds``.  Every job's
committed output is then checked (outside the timing); a failed check
counts all of that job's rows as failed.

``--trace 0`` reports the end-to-end metrics:

* ``rows_per_cpu_s``: input rows (turns, or documents for curate_full)
  carried to a committed, checked result per CPU second the driver, the
  JVM and the Python workers spent on the timed job (JIT compiler
  threads left out), median over the run's jobs.  CPU seconds, not
  wall seconds: on a shared host the wall time of a job moves with the
  CPU time the hypervisor gives to other guests (steal), which no
  change to the program can move.  ``rows_per_s`` (per wall second)
  is printed beside it;
* ``setup_s``: JVM and session start, input generation or cache load
  and the warm-up jobs, in wall seconds;
* ``peak_rss_mb``: peak resident memory (``VmHWM``, reset when timing
  starts) of the driver JVM plus its Python workers.

``--trace 1`` repeats the jobs in a second session with Spark's event
log on and reports the per-layer metrics (see BENCHMARK.json).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------

def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this one)."""
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids[ppid].append(int(d))
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def _stat_cpu_s(path: str, reaped: bool = True) -> float:
    """utime + stime of a /proc stat file, in seconds, plus cutime +
    cstime (reaped children) when ``reaped``."""
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15 if reaped else 13]) / os.sysconf(
        "SC_CLK_TCK")


def work_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers (children they reaped included), less the JVM's JIT
    compiler threads: compilation is the JVM warming up, not work on
    rows, and it comes and goes from job to job."""
    total = 0.0
    for pid in [os.getpid()] + descendants():
        try:
            total += _stat_cpu_s(f"/proc/{pid}/stat")
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" in f.read():
                        # a thread's cutime is its process's
                        total -= _stat_cpu_s(f"/proc/{pid}/task/{tid}/stat",
                                             reaped=False)
        except OSError:
            pass  # process or thread ended meanwhile
    return total


def reset_peak_rss() -> None:
    """Reset VmHWM of the JVM and its Python workers to their current
    RSS (``clear_refs`` value 5)."""
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # process ended meanwhile


def peak_rss_mb() -> float:
    kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def start_session(nproc: int, event_dir: str | None = None):
    from vision_parse_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: peak RSS then follows the Python
        # workers and off-heap memory, not the GC's heap sizing
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            "-Xms2g -XX:+AlwaysPreTouch "
            # a fixed set of JIT compiler threads, so that work_cpu_s
            # can leave all of their time out
            "-XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    spark = get_spark("perfbench", cores=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_all(spark) -> None:
    """Stop Spark, the JVM and every process below this one, and wait
    until they have ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def timed_loop(spark, wl, seconds: float) -> list[dict]:
    """Closed loop: one batch job at a time until ``seconds`` of job
    time are measured; then check every job's committed output."""
    sc = spark.sparkContext
    jobs = []
    reset_peak_rss()
    while sum(j["s"] for j in jobs) < seconds:
        k = len(jobs)
        # a committed target would be skipped (merge_write resumes)
        shutil.rmtree(wl.out_path(k), ignore_errors=True)
        sc.setJobDescription(f"perfbench.job.{k}")
        c0, st0, t0 = work_cpu_s(), cpu_times(), time.perf_counter()
        rows = wl.run_job(spark, k)
        jobs.append({"k": k, "rows": rows, "s": time.perf_counter() - t0,
                     "cpu_s": work_cpu_s() - c0,
                     "steal": steal_frac(st0, cpu_times())})
        sc.setJobDescription(None)
    rss = peak_rss_mb()
    for j in jobs:
        j["rss_mb"] = rss
        c = wl.check(spark, j["k"], audit=j is jobs[-1])
        j["problems"], j["error_rows"] = c.problems, c.error_rows
    return jobs


def setup(wl, nproc: int, spark, event_dir=None):
    """One set-up: (re)start the session, load or build inputs, run
    the workload's untimed warm-up jobs."""
    if spark is not None:
        spark.stop()
    spark = start_session(nproc, event_dir)
    wl.prepare(spark)
    spark.sparkContext.setJobDescription("perfbench.warm")
    # the traced session starts in the JVM the untraced jobs warmed up:
    # one job starts its Python workers
    for _ in range(wl.warm_jobs if event_dir is None else 1):
        wl.warm_up(spark)
    spark.sparkContext.setJobDescription(None)
    return spark


def tally(jobs: list[dict]) -> tuple[bool, int, int]:
    attempted = sum(j["rows"] for j in jobs)
    failed = sum(j["rows"] if j["problems"] else j["error_rows"] for j in jobs)
    return not any(j["problems"] for j in jobs), attempted, failed


def layer_metrics(spark, wl, nproc, seconds, untraced, event_dir):
    """Traced session: the same jobs with the event log on, then the
    layer probes; returns the per-layer metrics and the traced jobs."""
    from perfbench.layers import (
        STAGES,
        EventLog,
        curation_stages,
        replay_kernel,
    )
    from perfbench.workloads import EXTRACT_CFG

    traced = timed_loop(spark, wl, seconds)
    sc = spark.sparkContext
    sink_wall, upsert = 0.0, None
    if hasattr(wl, "sink_call"):
        last = traced[-1]["k"]
        sink = wl.sink_call(spark, last)
        sc.setJobDescription("perfbench.sink")
        t0 = time.perf_counter()
        sink()
        sink_wall = time.perf_counter() - t0
        call, upserted = wl.upsert_call(spark, last)
        sc.setJobDescription("perfbench.upsert")
        summary = call()
        upsert = (len(summary["updated"]) + len(summary["inserted"]),
                  summary["rows"] / upserted)
        sc.setJobDescription(None)
    stages = None
    if hasattr(wl, "curate"):
        stages = curation_stages(spark, lambda: wl.curate(spark))
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    spark.stop()  # flushes and closes the event log
    ev = EventLog(event_dir)
    n = len(traced)
    job_s = [j["s"] for j in traced]
    P = "perfbench.job."
    dirs = wl.input_dirs()
    write_s = ev.write_seconds("perfbench.sink")
    m = {
        "sources.scan_s": ev.scan_sum(P, dirs, "scan time") / n,
        "sources.scan_bytes": ev.scan_sum(P, dirs, "size of files read") / n,
        "pipeline.py_run_s": ev.sql_sum(P, "time to run Python workers") / n,
        "pipeline.py_start_s": ev.sql_sum(
            P, "time to start Python workers",
            "time to initialize Python workers") / n,
        "pipeline.arrow_in_bytes": ev.sql_sum(P, "data sent to Python workers") / n,
        "pipeline.arrow_out_bytes": ev.sql_sum(
            P, "data returned from Python workers") / n,
        "sinks.write_s": write_s,
        "sinks.commit_s": ev.sql_sum(P, "task commit time", "job commit time") / n,
        "sinks.lineage_s": max(sink_wall - write_s, 0.0),
        "sinks.bytes_written": ev.sql_sum(P, "written output") / n,
        "sinks.buckets_rewritten": upsert[0] if upsert else 0,
        "sinks.rewrite_amplification": upsert[1] if upsert else 0.0,
        "shuffle.write_bytes": ev.task_sum(P, "shuffle_write") / n,
        "shuffle.read_bytes": ev.task_sum(P, "shuffle_read") / n,
        "shuffle.fetch_wait_s": ev.task_sum(P, "fetch_wait_ms") / 1000 / n,
        "scheduler.busy_frac": ev.task_sum(P, "run_ms") / 1000 / (sum(job_s) * nproc),
        "scheduler.straggler_ratio": statistics.median(
            ev.straggler_ratio(f"{P}{j['k']}") for j in traced),
        "scheduler.jobs": ev.job_count(P) / n,
        "trace.overhead_s": statistics.median(job_s) - statistics.median(
            j["s"] for j in untraced),
    }
    kernel = {}
    if wl.kernel_input:
        kernel = replay_kernel(wl.kernel_input, batch_rows, EXTRACT_CFG)
    for name in ("kernel.busy_s", "kernel.unattributed_s", "classify.self_s",
                 "html.busy_s", "pdf.busy_s", "pdf.payloads", "images.busy_s",
                 "images.entities", "images.useful_frac", "markdown.busy_s",
                 "markdown.fast_path_frac"):
        m[name] = kernel.get(name, 0)
    rows = (stages or {}).get("rows", {})
    span_s = (stages or {}).get("span_s", {})
    for st in STAGES:
        m[f"curation.{st}_s"] = span_s.get(st, 0.0)
        m[f"curation.{st}_rows_out"] = rows.get(st, 0)
    m["curation.unattributed_s"] = (
        stages["wall_s"] - sum(span_s.values()) if stages else 0.0)
    m["dedup.verified_frac"] = (
        rows["verified"] / rows["candidates"] if rows.get("candidates") else 0.0)
    return m, traced


def provenance(nproc: int) -> dict:
    import pandas as pd
    import pyspark

    from perfbench.workloads import source_hash

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or None
    return {
        "workload": ARGS.workload, "seed": ARGS.seed, "seconds": ARGS.seconds,
        "trace": ARGS.trace, "nproc": nproc, "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pandas": pd.__version__, "commit": commit,
        "source_sha256": source_hash(ROOT, "vision_parse_spark", "perfbench"),
    }


def run_one() -> int:
    from perfbench import workloads as W

    nproc = len(os.sched_getaffinity(0))
    ctx = W.Ctx(root=ROOT, work=WORK, seed=ARGS.seed, nproc=nproc)
    wl = W.make(ARGS.workload, ctx)
    prov = provenance(nproc)
    print(json.dumps({"provenance": prov}), flush=True)
    cpu0 = cpu_times()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = setup(wl, nproc, spark)
        setup_s = time.perf_counter() - t0
        wl.expect(spark)
        jobs = timed_loop(spark, wl, ARGS.seconds)
        if ARGS.trace:
            event_dir = os.path.join(WORK, "eventlog", f"{ARGS.workload}-{os.getpid()}")
            shutil.rmtree(event_dir, ignore_errors=True)
            spark = setup(wl, nproc, spark, event_dir)
            metrics, traced = layer_metrics(spark, wl, nproc, ARGS.seconds,
                                            jobs, event_dir)
            spark = None
            shutil.rmtree(event_dir, ignore_errors=True)
            jobs += traced
        else:
            metrics = {
                "rows_per_cpu_s": statistics.median(
                    j["rows"] / j["cpu_s"] for j in jobs),
                "setup_s": setup_s,
                "peak_rss_mb": jobs[0]["rss_mb"],
            }
        correct, attempted, failed = tally(jobs)
    finally:
        stop_all(spark)
        wl.cleanup()
    units = layer_units() if ARGS.trace else {
        "rows_per_cpu_s": "rows/cpu_s", "setup_s": "s", "peak_rss_mb": "MB"}
    for j in jobs:
        for p in j["problems"]:
            print(f"CHECK FAILED {ARGS.workload} job {j['k']}: {p}", flush=True)
    print(json.dumps({"loadavg_end": os.getloadavg(),
                      "cpu_steal_frac": round(steal_frac(cpu0, cpu_times()), 4),
                      "jobs_s": [round(j["s"], 4) for j in jobs],
                      "jobs_cpu_s": [round(j["cpu_s"], 3) for j in jobs],
                      "jobs_steal": [round(j["steal"], 4) for j in jobs],
                      "setup_s": round(setup_s, 4),
                      "rows_per_job": jobs[0]["rows"], "row_unit": wl.unit}))
    for name, v in metrics.items():
        print(f"{ARGS.workload:17s} {name:30s} {v:14.4f} {units[name]}")
    print(f"{ARGS.workload:17s} {'rows_per_s':30s} "
          f"{statistics.median(j['rows'] / j['s'] for j in jobs):14.4f} rows/s")
    print(f"{ARGS.workload:17s} {'failed_frac':30s} {failed / attempted:14.4f} ratio")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_all() -> int:
    """Each workload in its own process, one after another."""
    results, rc = {}, 0
    for w in workload_names():
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(ARGS.seed), "--seconds", str(ARGS.seconds),
             "--trace", str(ARGS.trace)], capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode or not lines:
            sys.stderr.write(r.stderr)
            print(f"{w}: exit {r.returncode}")
            rc = r.returncode or 1
            continue
        print("\n".join(lines[:-1]), flush=True)
        results[w] = json.loads(lines[-1])
    if rc:
        return rc
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def workload_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=workload_names() + ["all"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if a.seed < 0 or a.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")
    return a


if __name__ == "__main__":
    ARGS = parse_args()
    if ARGS.workload == "all":
        sys.exit(run_all())
    sys.path.insert(0, ROOT)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    try:
        import perfbench.workloads  # noqa: F401  (imports the program)
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the program under test: {e}")
    sys.exit(run_one())
