"""The measured session: one fresh process, one ``SparkSession``.

    python measure.py <workload> <trace 0|1> <seconds> <work_dir>

Prints ``READY`` as soon as the session is up (the parent times that
as the set-up), runs the workload's first
operation (cold) and then warm operations until ``seconds`` of warm
work and ``MIN_WARM`` warm operations are measured,
reads the peak RSS of the Python driver and the JVM, and writes
``<work_dir>/<trace|plain>.json``. Outputs stay on disk for the
parent's correctness check.

With trace 1 the session also writes a Spark event log, the layer
wrappers of :mod:`tracing` are installed, and after the operations the
ablation ladders run (and, for ``flagship``, a ``local[1]`` baseline).
"""

from __future__ import annotations

import sys
import time
from datetime import datetime
from pathlib import Path
from statistics import median

from bench_common import cpus, import_repo, open_session, read_json, vm_hwm_kb, write_json

import_repo()

MIN_WARM = 2
MIN_WARM_TRACED = 5  # a warm-up, then two recorded and two unrecorded (tracing.Recorder)
BUDGET_S = 110  # hard stop for the operation loop, so a run always ends in time
ABLATION_REPS = 2


class OpLoop:
    """Runs operations until enough warm time is measured."""

    def __init__(self, seconds: float, traced: bool) -> None:
        self.seconds = seconds
        self.min_warm = MIN_WARM_TRACED if traced else MIN_WARM
        self.ops: list[dict] = []
        self.t_start = time.monotonic()

    def more(self) -> bool:
        warm = [o["dur"] for o in self.ops[1:]]
        if time.monotonic() - self.t_start > BUDGET_S:
            return False
        return len(warm) < self.min_warm or sum(warm) < self.seconds

    def run(self, fn) -> None:
        i = len(self.ops)
        t0, m0 = time.time(), time.monotonic()
        op = {"i": i, "error": None}
        try:
            op.update(fn(i) or {})
        except Exception as exc:  # a failed operation is counted, not fatal
            op["error"] = repr(exc)[:500]
        op.update(t0=t0, t1=time.time(), dur=time.monotonic() - m0)
        self.ops.append(op)


def timed_rounds(writes: dict, reps: int = ABLATION_REPS) -> dict:
    """Median seconds of each write over ``reps`` interleaved rounds,
    after one untimed round: a new plan generates and compiles its code
    on first use."""
    times = {k: [] for k in writes}
    for r in range(reps + 1):
        for k, write in writes.items():
            t = time.monotonic()
            write()
            if r:
                times[k].append(time.monotonic() - t)
    return {k: median(v) for k, v in times.items()}


def noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def parquet(df, path: Path, partition_by=()):
    return lambda: df.write.mode("overwrite").partitionBy(*partition_by).parquet(str(path))


# ------------------------------------------------------------------ flagship

def flagship(spark, work: Path, meta: dict, seconds: float, rec) -> dict:
    from pysyslog_lfc_spark.plans import pipeline

    inp, out_dir = work / "input", work / "out"

    def op(i: int) -> dict:
        res = pipeline.run_pipeline(
            spark,
            spark.read.parquet(str(inp / "seq")),
            spark.read.parquet(str(inp / "lookup")),
            str(out_dir / f"wh{i}"),
            job_id=f"job{i}",
            resume=False,
        )
        return {"rows": meta["rows"], "timings": res.timings, "metrics": res.metrics,
                "out": str(out_dir / f"wh{i}")}

    loop = OpLoop(seconds, rec is not None)
    while loop.more():
        loop.run(op)
    out = {"ops": loop.ops}
    if rec:
        out["ablation"] = flagship_ladder(spark, work)
    return out


def flagship_ladder(spark, work: Path) -> dict:
    """Noop-sink ablation over the public frames; each step's self time
    is its prefix minus the previous prefix. Every prefix keeps only the
    columns the routed write consumes, so a step adds exactly the work
    the write path does for it."""
    from pysyslog_lfc_spark.plans.pipeline import (
        SINK_COLUMNS, bucket_expr, parse_stage, routed_frame, transformed_frame,
    )
    from pysyslog_lfc_spark.sinks import BUCKET_COL, ROUTE_COL

    def kept(df, *extra):
        return df.select(*[c for c in (BUCKET_COL, *SINK_COLUMNS) if c in df.columns], *extra)

    inp = work / "input"
    seq = spark.read.parquet(str(inp / "seq"))
    lookup = spark.read.parquet(str(inp / "lookup"))
    bucketed = seq.withColumn(BUCKET_COL, bucket_expr(64))
    enriched, routes = transformed_frame(seq, lookup, 64)
    routed = routed_frame(seq, lookup, 64)
    return timed_rounds({
        "scan": noop(kept(seq)),
        "bucket": noop(kept(bucketed)),
        "parse": noop(kept(parse_stage(bucketed))),
        "enrich_route": noop(kept(enriched, *[f"is_{r}" for r in routes])),
        "explode": noop(routed),
        "encode": parquet(routed, work / "ablation" / "flat"),
        "partition": parquet(routed, work / "ablation" / "parted", (ROUTE_COL, BUCKET_COL)),
    })


def scaling_baseline(spark, work: Path, meta: dict) -> float:
    """Warm rows/s of the flagship on ``local[1]`` in the same JVM."""
    from pysyslog_lfc_spark.plans import pipeline

    spark.stop()
    spark = open_session(work, "bench-local1", event_log=work / "eventlog", n_cpus=1)
    inp = work / "input"
    t = time.monotonic()  # the JVM is warm: code generated at local[N] is reused
    pipeline.run_pipeline(
        spark, spark.read.parquet(str(inp / "seq")), spark.read.parquet(str(inp / "lookup")),
        str(work / "ablation" / "local1"), job_id="local1", resume=False,
    )
    rate = meta["rows"] / (time.monotonic() - t)
    spark.stop()
    return rate


# ------------------------------------------------------------------ ini_flows

def ini_flows(spark, work: Path, meta: dict, seconds: float, rec) -> dict:
    from gen import ini_config

    from pysyslog_lfc_spark import config
    from pysyslog_lfc_spark.plans import runtime

    registry = None
    if rec:
        from tracing import traced_registry

        registry = traced_registry(rec)

    def op(i: int) -> dict:
        out = work / "out" / f"run{i}"
        cfg = config.loads(ini_config(work / "input", out))
        runtime.run_runtime(spark, cfg, registry=registry)
        return {"rows": meta["rows"], "out": str(out)}

    loop = OpLoop(seconds, rec is not None)
    while loop.more():
        loop.run(op)
    out = {"ops": loop.ops}
    if rec:
        out["ablation"] = ini_ladder(spark, work)
    return out


def ini_ladder(spark, work: Path) -> dict:
    """Per leaf flow: input scan, parser-only prefix and full transform
    (DLQ off), each to a noop sink, with row counts per stage."""
    import dataclasses

    from pyspark.sql import Observation, functions as F

    from gen import LEAF_FLOWS, ini_config
    from pysyslog_lfc_spark import config
    from pysyslog_lfc_spark.config import ComponentConfig
    from pysyslog_lfc_spark.operators.parsers import compile_parser
    from pysyslog_lfc_spark.plans.compiler import compile_flow
    from pysyslog_lfc_spark.registry import ComponentRegistry

    reg = ComponentRegistry()
    cfg = config.loads(ini_config(work / "input", work / "ablation"))
    writes, observed = {}, {}
    for flow in LEAF_FLOWS:
        f = cfg.get_flow(flow)
        opts = {k: v for k, v in f.parser.options.items() if k != "dlq_path"}
        f = dataclasses.replace(f, parser=ComponentConfig(f.parser.type, opts))
        src = reg.create_input(spark, f)
        frames = {
            "read": src,
            "parse": compile_parser(f.parser, registry=reg)(src, "value"),
            "full": compile_flow(f, registry=reg)(src),
        }
        for stage, df in frames.items():
            obs = observed[(flow, stage)] = Observation(f"{flow}-{stage}")
            writes[(flow, stage)] = noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    times = timed_rounds(writes)
    out = {flow: {"parser": parser} for flow, (_, parser) in LEAF_FLOWS.items()}
    for (flow, stage), t in times.items():
        out[flow][f"{stage}_s"] = t
        out[flow][f"{stage}_rows"] = int(observed[(flow, stage)].get["n"])
    return out


# ------------------------------------------------------------------ stream

def stream_microbatch(spark, work: Path, meta: dict, seconds: float, rec) -> dict:
    from pysyslog_lfc_spark.streaming.flows import run_pipeline_stream

    inp = work / "input"
    schema = spark.read.parquet(str(inp / "seq")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(inp / "seq"))
    )
    error = None
    q = run_pipeline_stream(
        spark, stream, spark.read.parquet(str(inp / "lookup")),
        str(work / "out" / "wh"), str(work / "out" / "checkpoint"), job_id="s",
    )
    try:
        if not q.awaitTermination(BUDGET_S):
            q.stop()
            error = "stream did not finish within the budget"
        elif q.exception() is not None:
            error = str(q.exception())[:500]
    except Exception as exc:  # the query failed; its batches so far still count
        error = repr(exc)[:500]
    rows_per_batch = meta["rows"] / meta["files"]
    ops = []
    for p in q.recentProgress:
        if not p["numInputRows"]:
            continue
        d = p["durationMs"]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = d["triggerExecution"] / 1000
        ops.append({
            "i": len(ops), "batch": p["batchId"], "error": None, "rows": rows_per_batch,
            "t0": start, "t1": start + dur, "dur": dur,
            "add_batch_s": d.get("addBatch", 0) / 1000,
        })
    return {"ops": ops, "stream_error": error, "out": str(work / "out" / "wh")}


RUNNERS = {"flagship": flagship, "ini_flows": ini_flows, "stream_microbatch": stream_microbatch}


def main() -> None:
    workload, trace, seconds, work = sys.argv[1], sys.argv[2] == "1", float(sys.argv[3]), Path(sys.argv[4])
    event_log = work / "eventlog" if trace else None
    spark = open_session(work, f"bench-{workload}", event_log=event_log)
    print("READY", flush=True)
    rec = None
    if trace:
        import tracing

        rec = tracing.Recorder()
        tracing.install(rec)
    meta = read_json(work / "input" / "meta.json")
    result = RUNNERS[workload](spark, work, meta, seconds, rec)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    result["rss_kb"] = {"python": vm_hwm_kb(), "jvm": vm_hwm_kb(jvm_pid)}
    result["cpus"] = cpus()
    if trace and workload == "flagship":
        result["local1_rows_per_s"] = scaling_baseline(spark, work, meta)
    else:
        spark.stop()
    if trace:
        result["spans"] = rec.spans
    write_json(work / ("trace.json" if trace else "plain.json"), result)


if __name__ == "__main__":
    main()
