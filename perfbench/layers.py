"""Per-layer measurement for the traced run.

Two sources, both outside the program:

* Spark's own event log of the traced session (uncompressed JSON
  lines): SQL metrics per plan node, task metrics and job times, split
  by the job description the benchmark sets around each call;
* spans around calls into the program's public functions, recorded by
  patching the module attributes the callers look up and restoring
  them afterwards.  A span's self time is its duration minus the time
  of the spans it encloses, so nested calls are not counted twice.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from importlib import import_module

import pyarrow.parquet as pq

# Spark SQL metric types -> seconds (sizes and counts stay as they are)
_TO_S = {"timing": 1e-3, "nsTiming": 1e-9}


class SpanTracer:
    """Durations, self times, call counts and counters per span name."""

    def __init__(self):
        self.total = defaultdict(float)
        self.self_ = defaultdict(float)
        self.calls = Counter()
        self.counts = Counter()
        self._stack: list[float] = []

    def wrap(self, fn, name, hook=None):
        def traced(*args, **kwargs):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = self._stack.pop()
                self.total[name] += dt
                self.self_[name] += dt - child
                self.calls[name] += 1
                if self._stack:
                    self._stack[-1] += dt
            if hook is not None:
                hook(self.counts, args, kwargs, out)
            return out
        return traced

    @contextmanager
    def patch(self, targets):
        """Wrap ``(module, attribute, span name, hook)`` targets for the
        duration of the block."""
        saved = []
        try:
            for mod, attr, name, hook in targets:
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr), name, hook))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)


# ---------------------------------------------------------------------------
# extract kernel: driver-side replay of the job's Arrow batches
# ---------------------------------------------------------------------------

def replay_kernel(input_dir: str, batch_rows: int, cfg) -> dict:
    """Run ``extract_pandas`` over the input's batches (one parquet file
    is one Spark partition, cut into ``batch_rows``-row Arrow batches
    as ``spark.sql.execution.arrow.maxRecordsPerBatch`` does) with spans
    around the kernel's layers."""
    classify = import_module("vision_parse_spark.functions.classify")
    pdf = import_module("vision_parse_spark.functions.pdf")
    pipeline = import_module("vision_parse_spark.operators.pipeline")

    def text_rows(counts, args, kwargs, out):
        counts["text_rows"] += int(out["text_detected"].sum())

    def fmt_rows(counts, args, kwargs, out):
        counts["formatted_rows"] += len(args[0])

    def useful(counts, args, kwargs, out):
        counts["useful_entities"] += bool(out)

    def payloads(counts, args, kwargs, out):
        counts["pdf_payloads"] += len(args[0])

    tr = SpanTracer()
    kernel = tr.wrap(pipeline.extract_pandas, "kernel")
    targets = [
        (pipeline, "classify_batch", "classify", text_rows),
        (pipeline, "format_markdown_batch", "markdown", fmt_rows),
        (pipeline, "extract_images_from_marker_text", "images", useful),
        (classify, "strip_html_boilerplate", "html", None),
        (pdf, "extract_pdf_text_series", "pdf", payloads),
    ]
    with tr.patch(targets):
        for f in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
            for batch in pq.ParquetFile(f).iter_batches(batch_size=batch_rows):
                kernel(batch.to_pandas(), cfg)
    c = tr.counts
    return {
        "kernel.busy_s": tr.total["kernel"],
        "kernel.unattributed_s": tr.self_["kernel"],
        "classify.self_s": tr.self_["classify"],
        "html.busy_s": tr.total["html"],
        "pdf.busy_s": tr.total["pdf"],
        "pdf.payloads": c["pdf_payloads"],
        "images.busy_s": tr.total["images"],
        "images.entities": tr.calls["images"],
        "images.useful_frac": _ratio(c["useful_entities"], tr.calls["images"]),
        "markdown.busy_s": tr.total["markdown"],
        "markdown.fast_path_frac": _ratio(
            c["text_rows"] - c["formatted_rows"], c["text_rows"]),
    }


# ---------------------------------------------------------------------------
# curate_full: stage split of one traced run
# ---------------------------------------------------------------------------

STAGES = ["gates", "decon", "semdedup", "minhash", "spans", "scrub"]
PROBE = "perfbench.probe"


def curation_stages(spark, run) -> dict:
    """Run ``run()`` (one curate_full job) with each stage's public
    function wrapped.  Entering a wrapper starts the stage's span and
    ends the previous one, so curate_full's own code between two calls
    (applying SemDeDup's drops, say) counts to the stage before it; the
    wrapper labels the stage's Spark jobs
    with ``setJobDescription`` and materializes the stage's output, so
    its work runs inside its own span.  The gates are curate_full's
    inline filters: the first span runs until decontaminate is called.

    A stage's rows out are the documents it passes on (for SemDeDup,
    which returns the kept embedding ids, the documents MinHash
    receives).  Counting them, and counting the MinHash candidate pairs
    (the same LSH call with the verify threshold at 0, so every
    candidate passes), is excluded from every span and kept apart as
    ``span_s["probe"]``."""
    clustering, curation, decontaminate, dedup, spans = (
        import_module(f"vision_parse_spark.operators.{m}") for m in
        ("clustering", "curation", "decontaminate", "dedup", "spans"))

    sc = spark.sparkContext
    counts, spent = {}, Counter()
    cur = {"stage": "gates", "t": time.perf_counter()}

    def enter(stage):
        now = time.perf_counter()
        spent[cur["stage"]] += now - cur["t"]
        cur.update(stage=stage, t=now)
        sc.setJobDescription(f"curation.{stage}")

    def count(df):
        t0 = time.perf_counter()
        sc.setJobDescription(PROBE)
        n = df.count()
        sc.setJobDescription(f"curation.{cur['stage']}")
        dt = time.perf_counter() - t0
        spent[cur["stage"]] -= dt
        spent["probe"] += dt
        return n

    def stage(fn, name, rows_in_of=None, rows_out=False):
        def wrapped(df, *args, **kwargs):
            if rows_in_of:
                counts[rows_in_of] = count(df)
            enter(name)
            out = fn(df, *args, **kwargs).localCheckpoint(eager=True)
            if rows_out:
                counts[name] = count(out)
            return out
        return wrapped

    def lsh_pairs(fn):
        def wrapped(df, *args, **kwargs):
            pairs = fn(df, *args, **kwargs).localCheckpoint(eager=True)
            counts["verified"] = count(pairs)
            t0, counted = time.perf_counter(), spent["probe"]
            sc.setJobDescription(PROBE)  # fn runs eager jobs while called
            every = fn(df, *args, **{**kwargs, "jaccard_threshold": 0.0})
            counts["candidates"] = count(every)
            dt = time.perf_counter() - t0 - (spent["probe"] - counted)
            spent["probe"] += dt
            spent[cur["stage"]] -= dt
            return pairs
        return wrapped

    targets = [
        (decontaminate, "decontaminate",
         lambda f: stage(f, "decon", rows_in_of="gates", rows_out=True)),
        (clustering, "semdedup", lambda f: stage(f, "semdedup")),
        (curation, "minhash_dedup",
         lambda f: stage(f, "minhash", rows_in_of="semdedup", rows_out=True)),
        (dedup, "minhash_lsh_pairs", lsh_pairs),
        (spans, "remove_frequent_spans",
         lambda f: stage(f, "spans", rows_out=True)),
        (curation, "scrub_pii", lambda f: stage(f, "scrub")),
    ]
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, w in targets:
            setattr(m, a, w(getattr(m, a)))
        sc.setJobDescription("curation.gates")
        t0 = cur["t"] = time.perf_counter()
        out = run()
        enter("done")
        wall = time.perf_counter() - t0
    finally:
        for m, a, orig in reversed(saved):
            setattr(m, a, orig)
        sc.setJobDescription(None)
    counts["scrub"] = len(out)
    return {"wall_s": wall, "span_s": dict(spent), "rows": counts}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

class EventLog:
    """Spark event log of one application, grouped by job description."""

    def __init__(self, log_dir: str):
        self.jobs = {}       # job id -> dict(label, start, end)
        self.stage_job = {}  # stage id -> job id
        self.stage_tasks = defaultdict(list)  # stage id -> task durations
        self.task = defaultdict(Counter)      # label -> task metric sums
        self.sql = defaultdict(Counter)       # label -> SQL metric sums
        self.scan = defaultdict(Counter)      # (label, scan location) -> sums
        self.exec_label = {}                  # execution id -> label
        self.exec_time = {}                   # execution id -> [start, end]
        self.exec_root = {}                   # execution id -> root node
        self._acc = {}  # accumulator id -> (metric, type, scan location)
        pending_driver = []
        files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"),
                                            recursive=True)
                       if os.path.isfile(f) and not f.endswith(".crc")
                       and "appstatus" not in os.path.basename(f))
        for f in files:
            with open(f) as fh:
                for line in fh:
                    e = json.loads(line)
                    kind = e["Event"].rsplit(".", 1)[-1]
                    if kind == "SparkListenerDriverAccumUpdates":
                        pending_driver.append(e)
                    elif kind.startswith("SparkListener"):
                        getattr(self, kind, lambda e: None)(e)
        for e in pending_driver:
            label = self.exec_label.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                self._add_sql(label, acc_id, value)

    # -- event handlers -------------------------------------------------
    def SparkListenerSQLExecutionStart(self, e):
        self.exec_time[e["executionId"]] = [e["time"], None]
        self.exec_root[e["executionId"]] = e["sparkPlanInfo"]["nodeName"]
        self._walk(e["sparkPlanInfo"])

    def SparkListenerSQLAdaptiveExecutionUpdate(self, e):
        self._walk(e["sparkPlanInfo"])

    def SparkListenerSQLExecutionEnd(self, e):
        self.exec_time.setdefault(e["executionId"], [None, None])[1] = e["time"]

    def SparkListenerJobStart(self, e):
        props = e.get("Properties") or {}
        label = props.get("spark.job.description")
        self.jobs[e["Job ID"]] = {"label": label, "start": e["Submission Time"],
                                  "end": None}
        for s in e["Stage IDs"]:
            self.stage_job[s] = e["Job ID"]
        if "spark.sql.execution.id" in props:
            self.exec_label[int(props["spark.sql.execution.id"])] = label

    def SparkListenerJobEnd(self, e):
        self.jobs[e["Job ID"]]["end"] = e["Completion Time"]

    def SparkListenerTaskEnd(self, e):
        job = self.stage_job.get(e["Stage ID"])
        label = self.jobs[job]["label"] if job is not None else None
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        self.stage_tasks[e["Stage ID"]].append(
            info["Finish Time"] - info["Launch Time"])
        t = self.task[label]
        t["run_ms"] += m.get("Executor Run Time", 0)
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        t["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0))
        t["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        t["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        for a in info.get("Accumulables", []):
            self._add_sql(label, a["ID"], a.get("Update", 0))

    # -- helpers ----------------------------------------------------------
    def _walk(self, plan):
        loc = (plan.get("metadata") or {}).get("Location", "")
        for m in plan.get("metrics", []):
            self._acc[m["accumulatorId"]] = (m["name"], m["metricType"], loc)
        for c in plan.get("children", []):
            self._walk(c)

    def _add_sql(self, label, acc_id, value):
        meta = self._acc.get(acc_id)
        if meta is None:
            return
        name, mtype, loc = meta
        v = float(value) * _TO_S.get(mtype, 1.0)
        self.sql[label][name] += v
        if loc:
            self.scan[(label, loc)][name] += v

    # -- queries ----------------------------------------------------------
    def labels(self, prefix):
        return {j["label"] for j in self.jobs.values()
                if j["label"] and j["label"].startswith(prefix)}

    def sql_sum(self, prefix, *names):
        return sum(self.sql[lab][n] for lab in self.labels(prefix) for n in names)

    def task_sum(self, prefix, name):
        return sum(self.task[lab][name] for lab in self.labels(prefix))

    def scan_sum(self, prefix, dirs, name):
        labs = self.labels(prefix)
        return sum(c[name] for (lab, loc), c in self.scan.items()
                   if lab in labs and any(d in loc for d in dirs))

    def job_count(self, prefix):
        return sum(1 for j in self.jobs.values()
                   if j["label"] and j["label"].startswith(prefix))

    def write_seconds(self, prefix):
        """Wall time of the data-writing SQL executions under ``prefix``."""
        labs = self.labels(prefix)
        return sum((end - start) / 1000
                   for ex, (start, end) in self.exec_time.items()
                   if self.exec_label.get(ex) in labs and end is not None
                   and self.exec_root.get(ex, "").startswith(
                       "Execute InsertIntoHadoopFsRelationCommand"))

    def straggler_ratio(self, label):
        """max / median task time of the job's stage with the most task
        time."""
        stages = [s for s, j in self.stage_job.items()
                  if self.jobs[j]["label"] == label and self.stage_tasks[s]]
        if not stages:
            return 0.0
        longest = max(stages, key=lambda s: sum(self.stage_tasks[s]))
        tasks = self.stage_tasks[longest]
        return _ratio(max(tasks), statistics.median(tasks))


def _ratio(a, b):
    return a / b if b else 0.0
