"""Traced runs: spans around calls into the package, Spark's event log, and
the per-layer table built from both.

Spans are recorded by wrapping module attributes of ``ht_ner_spark`` from
here (the package itself is not edited) and kept in memory until the run
ends. Each Spark job in the event log is attributed to the layer whose
window was open when the job was submitted. Pipeline stage windows are
bounded by the wrapped ``checkpoint.record_stage`` calls; ``s1`` and ``s4``
are sub-split with the ``timings`` dict that ``pipeline.run`` fills.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

STAGES = ["s1_freq", "s1", "s1b", "s2", "s3", "s4_write", "s4_audit"]
STAGE_FIELDS = {  # name -> (unit, better)
    "wall_s": ("s", "lower"), "task_s": ("s", "lower"), "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"), "shuffle_read_mb": ("MB", "lower"),
    "shuffle_write_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
    "jobs": ("count", "lower"), "tasks": ("count", "lower"),
    "max_task_s": ("s", "lower"), "slot_util": ("ratio", "higher"),
}
OTHER_FIELDS = {
    "s1.rows_in": ("count", "higher"), "s1.mentions": ("count", "higher"),
    "s1b.entity_rows": ("count", "higher"), "s2.edges": ("count", "higher"),
    "s2.dropped_blocks": ("count", "lower"), "s3.nodes": ("count", "higher"),
    "s4.triples": ("count", "higher"), "s4.files": ("count", "lower"),
    "s4.mb_written": ("MB", "lower"),
    "catalog.write_s": ("s", "lower"), "catalog.writes": ("count", "lower"),
    "catalog.read_s": ("s", "lower"), "catalog.reads": ("count", "lower"),
    "catalog.mb_written": ("MB", "lower"),
    "checkpoint.record_s": ("s", "lower"), "checkpoint.lookup_s": ("s", "lower"),
    "pipeline.jobs": ("count", "lower"), "pipeline.idle_s": ("s", "lower"),
    "stream.drain_s": ("s", "lower"), "stream.batches": ("count", "lower"),
    "stream.read_s": ("s", "lower"), "stream.delta_files": ("count", "lower"),
    "stream.jobs_per_step": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"), "trace.overhead_share": ("ratio", "lower"),
}


def layer_metric_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better), in report order."""
    out = {f"{s}.{f}": uf for s in STAGES for f, uf in STAGE_FIELDS.items()}
    out.update(OTHER_FIELDS)
    return out


def event_log_conf(event_dir: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _tree_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """In-memory spans (name, start, end, parent, attrs) plus the wrappers
    that record them. Times are epoch seconds, the clock the event log's
    job submission times use."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            s = {"id": len(self.spans), "name": name, "t0": time.time(), "t1": None,
                 "parent": self._stack[-1] if self._stack else None, "attrs": attrs}
            self.spans.append(s)
            self._stack.append(s["id"])
        try:
            yield s
        finally:
            with self._lock:
                s["t1"] = time.time()
                self._stack.remove(s["id"])

    # -- wrappers around the package's public functions
    def install(self) -> None:
        from ht_ner_spark import pipeline
        from ht_ner_spark.storage import catalog, checkpoint
        from ht_ner_spark.streaming import incremental

        def wrap(mod, attr, make):
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, make(orig))

        def run(orig):
            def traced(spark, corpus, cfg, timings=None):
                t = {} if timings is None else timings
                with self.span("pipeline.run") as s:
                    out = orig(spark, corpus, cfg, timings=t)
                s["attrs"]["timings"] = dict(t)
                return out
            return traced

        def write_table(orig):
            def traced(df, warehouse, name, *a, **kw):
                path = os.path.join(warehouse, name)
                before = _tree_files(path)
                with self.span("catalog.write_table", table=name) as s:
                    orig(df, warehouse, name, *a, **kw)
                after = _tree_files(path)
                s["attrs"]["bytes"] = sum(sz for p, (sz, m) in after.items()
                                          if before.get(p) != (sz, m))
            return traced

        def plain(span_name, key_arg=None):
            def make(orig):
                def traced(*a, **kw):
                    attrs = {"stage": a[key_arg]} if key_arg is not None else {}
                    with self.span(span_name, **attrs):
                        return orig(*a, **kw)
                return traced
            return make

        wrap(pipeline, "run", run)
        wrap(catalog, "write_table", write_table)
        wrap(catalog, "read_table", plain("catalog.read_table"))
        wrap(checkpoint, "record_stage", plain("checkpoint.record_stage", 3))
        wrap(checkpoint, "completed_stages", plain("checkpoint.completed_stages"))
        wrap(incremental, "stream_triples", plain("stream.drain"))
        wrap(incremental, "merged_triples", plain("stream.merged_triples"))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        lo, hi = span["t0"], span["t1"]
        return [s for s in self.spans if s is not span and lo <= s["t0"] and s["t1"] <= hi
                and (name is None or s["name"] == name)]


# -- event log ---------------------------------------------------------------

def load_event_log(event_dir: str) -> tuple[dict, list[dict]]:
    """-> (jobs {id: {submit, stages}}, tasks [{job, launch, finish, ...}])."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*"))
             if not p.endswith(".inprogress")] or glob.glob(os.path.join(event_dir, "*"))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {"submit": e["Submission Time"] / 1e3}
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif ev == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(e["Stage ID"]),
                        "launch": info["Launch Time"] / 1e3,
                        "finish": info["Finish Time"] / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    return jobs, tasks


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def stage_windows(tr: Tracer, run_span: dict) -> dict[str, tuple[float, float]]:
    """Stage windows inside one pipeline.run span."""
    rec = {s["attrs"]["stage"]: s for s in tr.children(run_span, "checkpoint.record_stage")}
    look = tr.children(run_span, "checkpoint.completed_stages")
    t = run_span["attrs"].get("timings", {})
    start = look[0]["t1"] if look else run_span["t0"]
    freq_end = start + t.get("s1_freq", 0.0)
    audit_start = rec["s4"]["t0"] - t.get("s4_audit", 0.0)
    return {
        "s1_freq": (start, freq_end),
        "s1": (freq_end, rec["s1"]["t1"]),
        "s1b": (rec["s1"]["t1"], rec["s1b"]["t1"]),
        "s2": (rec["s1b"]["t1"], rec["s2"]["t1"]),
        "s3": (rec["s2"]["t1"], rec["s3"]["t1"]),
        "s4_write": (rec["s3"]["t1"], audit_start),
        "s4_audit": (audit_start, rec["s4"]["t1"]),
    }


def layer_table(tr: Tracer, jobs: dict, tasks: list[dict], slots: int) -> dict:
    """Per-layer metrics, each the mean over the traced operations (the
    maximum for max_task_s)."""
    ops = [s for s in tr.spans if s["name"] == "op"]
    n_ops = max(len(ops), 1)
    by_job: dict[int, list[dict]] = {}
    for t in tasks:
        by_job.setdefault(t["job"], []).append(t)

    def jobs_in(windows):
        return [j for j, v in jobs.items() if any(a <= v["submit"] < b for a, b in windows)]

    windows: dict[str, list[tuple[float, float]]] = {s: [] for s in STAGES}
    runs = [s for s in tr.spans if s["name"] == "pipeline.run"]
    for r in runs:
        for st, w in stage_windows(tr, r).items():
            windows[st].append(w)
    drains = [(s["t0"], s["t1"]) for s in tr.spans if s["name"] == "stream.drain"]
    if drains:  # kg-stream: the drain runs the fused stage-1 labeler per micro-batch
        windows["s1"] += drains

    out: dict[str, float] = {}
    for st in STAGES:
        ws = windows[st]
        js = jobs_in(ws)
        ts = [t for j in js for t in by_job.get(j, [])]
        wall = sum(b - a for a, b in ws)
        task_s = sum(t["run_s"] for t in ts)
        vals = {
            "wall_s": wall, "task_s": task_s,
            "cpu_s": sum(t["cpu_s"] for t in ts), "gc_s": sum(t["gc_s"] for t in ts),
            "shuffle_read_mb": sum(t["sr"] for t in ts) / 1e6,
            "shuffle_write_mb": sum(t["sw"] for t in ts) / 1e6,
            "spill_mb": sum(t["spill"] for t in ts) / 1e6,
            "jobs": len(js), "tasks": len(ts),
        }
        for k, v in vals.items():
            out[f"{st}.{k}"] = v / n_ops
        out[f"{st}.max_task_s"] = max((t["run_s"] for t in ts), default=0.0)
        out[f"{st}.slot_util"] = task_s / (wall * slots) if wall > 0 else 0.0

    run_w = [(s["t0"], s["t1"]) for s in runs]
    task_iv = [(t["launch"], t["finish"]) for t in tasks]
    out["pipeline.jobs"] = len(jobs_in(run_w)) / n_ops
    out["pipeline.idle_s"] = sum((b - a) - _covered(task_iv, a, b) for a, b in run_w) / n_ops

    def spans(name):
        return [s for s in tr.spans if s["name"] == name]

    def dur(ss):
        return sum(s["t1"] - s["t0"] for s in ss)

    writes = spans("catalog.write_table")
    out["catalog.write_s"] = dur(writes) / n_ops
    out["catalog.writes"] = len(writes) / n_ops
    out["catalog.read_s"] = dur(spans("catalog.read_table")) / n_ops
    out["catalog.reads"] = len(spans("catalog.read_table")) / n_ops
    out["catalog.mb_written"] = sum(s["attrs"].get("bytes", 0) for s in writes) / 1e6 / n_ops
    out["checkpoint.record_s"] = dur(spans("checkpoint.record_stage")) / n_ops
    out["checkpoint.lookup_s"] = dur(spans("checkpoint.completed_stages")) / n_ops

    if drains:
        reads = spans("read")
        out["stream.drain_s"] = sum(b - a for a, b in drains) / n_ops
        out["stream.batches"] = sum(1 for s in writes if s["attrs"]["table"] == "triple_deltas") / n_ops
        out["stream.read_s"] = dur(reads) / max(len(reads), 1)
        out["stream.jobs_per_step"] = len(jobs_in([(s["t0"], s["t1"]) for s in ops])) / n_ops
    return out
