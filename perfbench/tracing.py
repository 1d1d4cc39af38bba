"""Traced-run instruments: a span recorder, the wrappers that open
spans around each layer's public functions, and the Spark event-log
reader.

Spans are recorded from the benchmark's own files only: the wrappers
replace module attributes and methods in the measured process
(``install``), the program's files stay untouched, and an untraced run
installs nothing. Each span keeps name, start, end (epoch seconds, the
event log's clock) and parent; the operation (run id) it belongs to is
the one whose interval holds its start. Spans stay in memory and are
written out when the run ends.

Recording alternates per top-level call (one operation): the first
(cold) one is recorded, the second (still warming up) is not, and the
rest follow an ABBA pattern (off, on, on, off, ...) so that warm-up
drift cancels; one traced session thus also yields the untraced
operations its overhead is measured against.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._top_calls = 0
        self._local = threading.local()  # streaming callbacks run on their own thread

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        if not stack:
            self._top_calls += 1
            k = self._top_calls
            self._local.on = k == 1 or (k >= 3 and (k - 3) % 4 in (1, 2))
        if not self._local.on:
            stack.append(None)
            try:
                yield {}
            finally:
                stack.pop()
            return
        rec = {"id": len(self.spans), "name": name, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, name: str, fn, attr=None, result=None):
        """``fn`` inside a span; ``attr(*args)`` and ``result(ret)`` add
        fields to the span."""
        def wrapped(*args, **kwargs):
            extra = attr(*args, **kwargs) if attr else {}
            with self.span(name, **extra) as rec:
                ret = fn(*args, **kwargs)
                if result:
                    rec.update(result(ret))
                return ret

        return wrapped


def install(rec: Recorder) -> None:
    """Open spans around the pipeline, sinks, runtime and compiler entry
    points."""
    from pyspark.sql import DataFrameWriter

    from pysyslog_lfc_spark import sinks
    from pysyslog_lfc_spark.plans import compiler, pipeline, runtime

    runtime.run_runtime = rec.wrap("runtime.run_runtime", runtime.run_runtime)
    pipeline.run_pipeline = rec.wrap(
        "pipeline.run_pipeline", pipeline.run_pipeline,
        result=lambda r: {"timings": r.timings, "metrics": r.metrics},
    )
    wh = sinks.ParquetWarehouse
    for meth in ("committed_buckets", "commit_routed", "commit_per_flow", "commit_single"):
        setattr(wh, meth, rec.wrap(f"sinks.{meth}", getattr(wh, meth)))
    DataFrameWriter.parquet = rec.wrap("write.parquet", DataFrameWriter.parquet)

    def compile_flow(cfg, *args, **kwargs):
        flow = compiler.compile_flow(cfg, *args, **kwargs)
        return compiler.CompiledFlow(
            flow.name, rec.wrap("compiler.build", flow.transform, lambda df: {"flow": cfg.name})
        )

    runtime.compile_flow = compile_flow


def traced_registry(rec: Recorder):
    """A component registry whose output factories run inside
    ``io.write`` spans (passed to ``run_runtime(registry=...)``)."""
    from pysyslog_lfc_spark.registry import ComponentRegistry

    reg = ComponentRegistry()
    for name in reg.available("output"):
        reg.register_output(
            name, rec.wrap("io.write", reg.resolve("output", name), lambda df, cfg: {"flow": cfg.name})
        )
    return reg


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part its direct children cover."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


# ------------------------------------------------------------------ event log

def _event_lines(app: Path):
    """Events of one application: a single file, or a rolling log
    directory of ``events_<n>_<app>`` files."""
    if app.is_file():
        files = [app]
    else:
        files = sorted((f for f in app.iterdir() if f.name.startswith("events_")),
                       key=lambda f: int(f.name.split("_")[1]))
    for f in files:
        with open(f) as fh:
            yield from fh


def read_event_log(log_dir: Path) -> dict:
    """Jobs, stages and task metrics from every application log in
    ``log_dir``; keys are (application, id)."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    stages_done: list[tuple] = []
    tasks: list[dict] = []
    for path in sorted(log_dir.iterdir()):
        app = path.name
        for line in _event_lines(path):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[(app, ev["Job ID"])] = {"start": ev["Submission Time"] / 1000, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job[(app, sid)] = (app, ev["Job ID"])
            elif kind == "SparkListenerJobEnd" and (app, ev["Job ID"]) in jobs:
                jobs[(app, ev["Job ID"])]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                stages_done.append((app, ev["Stage Info"]["Stage ID"]))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": (app, ev["Stage ID"]),
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "in_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stage_job": stage_job, "stages_done": stages_done, "tasks": tasks}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_op_metrics(log: dict, ops: list[tuple[float, float]], n_cpus: int, input_rows: float) -> dict:
    """Per-operation Spark counters, averaged over ``ops`` (epoch
    intervals); jobs belong to the operation their submission falls in."""
    def op_of(t: float) -> int | None:
        for i, (s, e) in enumerate(ops):
            if s <= t <= e:
                return i
        return None

    job_op = {k: op_of(j["start"]) for k, j in log["jobs"].items()}
    n = len(ops)
    jobs = [k for k, o in job_op.items() if o is not None]
    stage_ids = {k for k, jk in log["stage_job"].items() if job_op.get(jk) is not None}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    wall = sum(e - s for s, e in ops)
    covered = 0.0
    for i, (s, e) in enumerate(ops):
        iv = [(max(s, log["jobs"][k]["start"]), min(e, log["jobs"][k]["end"] or e))
              for k in jobs if job_op[k] == i]
        covered += _union_len(iv)
    task_s = sum(t["run_s"] for t in tasks)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(1 for k in log["stages_done"] if k in stage_ids) / n,
        "spark.tasks": len(tasks) / n,
        "spark.task_s": task_s / n,
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks) / n,
        "spark.gc_s": sum(t["gc_s"] for t in tasks) / n,
        "spark.busy_ratio": task_s / (wall * n_cpus) if wall else 0.0,
        "spark.driver_gap_s": (wall - covered) / n,
        "spark.input_records_ratio": sum(t["in_records"] for t in tasks) / n / input_rows,
        "spark.input_bytes": sum(t["in_bytes"] for t in tasks) / n,
        "spark.output_bytes": sum(t["out_bytes"] for t in tasks) / n,
        "spark.shuffle_write_bytes": sum(t["shuffle_bytes"] for t in tasks) / n,
        "spark.spill_bytes": sum(t["spill_bytes"] for t in tasks) / n,
    }


def jobs_by_span(log: dict, spans: list[dict]) -> dict[str, int]:
    """Job count per innermost enclosing span name (for the report)."""
    out: dict[str, int] = {}
    for j in log["jobs"].values():
        best = None
        for s in spans:
            if s["end"] is not None and s["start"] <= j["start"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[best["name"]] = out.get(best["name"], 0) + 1
    return out
