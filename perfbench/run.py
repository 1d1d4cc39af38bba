"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 5 --trace 0

Steps, each in its own process so the measured session starts cold:

1. ``gen.py`` writes the seeded input (plain Python, no JVM);
2. ``measure.py`` opens a fresh session (timed from process start to
   ready session: the set-up), runs the cold operation and warm ones
   for ``--seconds``;
3. the outputs are checked against DuckDB / the generator's ground
   truth, outside every timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
session traced and prints the per-layer metrics.
``--workload all`` runs every workload in turn. Human-readable lines
come first; the last stdout line is the JSON result. All files live in
a work directory inside the checkout that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

from bench_common import (
    ROOT, WORKLOADS, child_env, cpus, driver_memory, ram_mb, read_json, tail_quantile,
)
from gen import OUTPUT_KIND

HERE = Path(__file__).resolve().parent
RUN_LIMIT_S = 170  # every process this run starts is gone by then


class ChildFailed(RuntimeError):
    pass


def spawn(script: str, args: list, work: Path, log: str, deadline: float) -> float | None:
    """Run a child to completion; return the seconds from start until it
    printed ``READY`` (None if it never did)."""
    t0 = time.monotonic()
    with open(work / log, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / script), *map(str, args)],
            stdout=subprocess.PIPE, stderr=err, cwd=work, env=child_env(work),
            start_new_session=True, text=True,
        )
        ready = None
        try:
            while ready is None and time.monotonic() < deadline:
                if select.select([proc.stdout], [], [], max(0.0, deadline - time.monotonic()))[0]:
                    line = proc.stdout.readline()
                    if not line:
                        break
                    if line.strip() == "READY":
                        ready = time.monotonic() - t0
            proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)  # the JVM is in the same group
            proc.wait()
    if proc.returncode != 0:
        tail = (work / log).read_text()[-3000:]
        raise ChildFailed(f"{script} exited with {proc.returncode}:\n{tail}")
    return ready


# ------------------------------------------------------------------ checks

def check(workload: str, work: Path, meta: dict, res: dict) -> dict:
    """attempted/failed operations, plus what the checks counted."""
    import checks

    con = checks.connect(work)
    try:
        if workload == "flagship":
            failed = checks.check_flagship(con, work, res["ops"])
            return {"attempted": len(res["ops"]), "failed": failed,
                    "committed": [checks.committed(Path(o["out"])) for o in res["ops"] if not o["error"]]}
        if workload == "ini_flows":
            attempted, failed, dlq = checks.check_ini(con, meta, res["ops"])
            return {"attempted": attempted, "failed": failed, "dlq_rows": dlq,
                    "committed": [checks.committed(Path(o["out"])) for o in res["ops"] if not o["error"]]}
        failed = checks.check_stream(con, work, res["ops"], Path(res["out"]), meta["files"])
        if res["stream_error"]:
            failed.append(f"stream: {res['stream_error']}")
        return {"attempted": max(meta["files"], len(res["ops"])), "failed": failed,
                "committed": [checks.committed(Path(res["out"]))]}
    finally:
        con.close()


# ------------------------------------------------------------------ metrics

def end_to_end(workload: str, meta: dict, res: dict, chk: dict, setup: float) -> dict:
    ops = res["ops"]
    warm = [o for o in ops[1:] if not o["error"]]
    durs = [o["dur"] for o in warm]
    p, tail = tail_quantile(durs)
    if workload == "stream_microbatch":
        stored = chk["committed"][0]["bytes"] / meta["rows"]
    else:
        stored = median([c["bytes"] for c in chk["committed"]]) / meta["rows"]
    print(f"operations: {len(ops)} ({len(warm)} warm), tail percentile p{round(p * 100)} of {len(durs)}; "
          f"durations " + " ".join(f"{o['dur']:.3f}" for o in ops))
    return {
        "setup_s": (setup, "s"),
        "cold_s": (ops[0]["dur"], "s"),
        "rows_per_s": (median([o["rows"] / o["dur"] for o in warm]), "rows/s"),
        "batch_p50_s": (median(durs), "s"),
        "batch_tail_s": (tail, "s"),
        "sink_bytes_per_row": (stored, "B/row"),
        "peak_rss_mb": ((res["rss_kb"]["python"] + res["rss_kb"]["jvm"]) / 1024, "MB"),
    }


def per_layer(workload: str, work: Path, tr: dict, chk: dict) -> dict:
    import tracing

    all_warm = [o for o in tr["ops"][1:] if not o["error"]]
    spans = [s for s in tr["spans"] if s["end"] is not None]
    selft = tracing.self_times(spans)
    top = [s for s in spans if s["parent"] is None]

    def within(o, s):
        return o["t0"] <= s["start"] <= o["t1"]

    # recording alternates per operation: layer figures come from the
    # recorded ones, the overhead from comparing both kinds (the first
    # warm operation is a warm-up, recorded by neither)
    warm = [o for o in all_warm if any(within(o, s) for s in top)]
    unrecorded = [o for o in all_warm[1:] if o not in warm]

    def op_of(s):
        for o in warm:
            if within(o, s):
                return o["i"]
        return None

    per = {}  # (name, kind) -> op -> seconds
    for s in spans:
        i = op_of(s)
        if i is None:
            continue
        for kind, v in (("total", s["end"] - s["start"]), ("self", selft[s["id"]])):
            d = per.setdefault((s["name"], kind), {})
            d[i] = d.get(i, 0.0) + v

    def span_s(name, kind="total"):
        d = per.get((name, kind), {})
        return median([d.get(o["i"], 0.0) for o in warm])

    runs = [s for s in spans if s["name"] == "pipeline.run_pipeline" and op_of(s) is not None]
    m = {}
    for phase in ("routed_write", "aggregates", "lineage_metrics", "resume_check"):
        m[f"pipeline.{phase}_s"] = median([s["timings"][phase] for s in runs]) if runs else 0.0
    m["pipeline.fanout_ratio"] = (
        median([s["metrics"]["written_rows"] / s["metrics"]["rows_in"] for s in runs]) if runs else 0.0)
    m["pipeline.parse_ok_ratio"] = (
        median([s["metrics"]["parse_ok"] / s["metrics"]["rows_in"] for s in runs]) if runs else 0.0)
    a = tr.get("ablation", {}) if workload == "flagship" else {}
    ladder = ["scan", "bucket", "parse", "enrich_route", "explode", "encode", "partition"]
    prev = 0.0
    for step in ladder:
        layer = "sinks" if step in ("encode", "partition") else "pipeline"
        m[f"{layer}.{step}_s"] = a[step] - prev if a else 0.0
        prev = a.get(step, 0.0)
    m["sinks.commit_routed_s"] = span_s("sinks.commit_routed")
    m["sinks.rename_s"] = span_s("sinks.commit_routed", "self")
    m["sinks.commit_single_s"] = span_s("sinks.commit_single")
    m["sinks.commit_per_flow_s"] = span_s("sinks.commit_per_flow")
    c = chk["committed"][-1] if chk["committed"] else {"files": 0, "bytes": 0, "dirs": 0}
    m["sinks.files_committed"] = c["files"]
    m["sinks.bytes_committed"] = c["bytes"]
    m["sinks.dirs_committed"] = c["dirs"]

    ini = tr.get("ablation", {}) if workload == "ini_flows" else {}
    m["compiler.build_s"] = span_s("compiler.build")
    m["io.read_s"] = sum(r["read_s"] for r in ini.values())
    m["io.write_s"] = span_s("io.write") - sum(r["full_s"] for r in ini.values()) if ini else 0.0
    for parser in ("rfc3164", "rfc5424", "grok", "json", "cef"):
        m[f"parsers.{parser}_s"] = sum(r["parse_s"] - r["read_s"] for r in ini.values() if r["parser"] == parser)
    m["compiler.post_parse_s"] = sum(r["full_s"] - r["parse_s"] for r in ini.values())
    flows = {f: [] for f in OUTPUT_KIND}
    for o in warm if workload == "ini_flows" else []:
        prev = o["t0"]
        for s in sorted((s for s in spans if s["name"] == "io.write" and op_of(s) == o["i"]),
                        key=lambda s: s["end"]):
            flows[s["flow"]].append(s["end"] - prev)
            prev = s["end"]
    for f, v in flows.items():
        m[f"runtime.flow.{f}_s"] = median(v) if v else 0.0
    m["runtime.dlq_rows"] = median(chk.get("dlq_rows") or [0])
    read_rows = sum(r["read_rows"] for r in ini.values())
    m["compiler.parse_ok_ratio"] = sum(r["parse_rows"] for r in ini.values()) / read_rows if ini else 0.0
    m["compiler.keep_ratio"] = sum(r["full_rows"] for r in ini.values()) / read_rows if ini else 0.0

    if workload == "stream_microbatch" and warm:
        add = [o["add_batch_s"] for o in warm]
        m["streaming.add_batch_s"] = median(add)
        m["streaming.trigger_overhead_s"] = median([o["dur"] - o["add_batch_s"] for o in warm])
        k = max(1, len(warm) // 10)
        m["streaming.batch_growth"] = median([o["dur"] for o in warm[-k:]]) / median([o["dur"] for o in warm[:k]])
    else:
        m["streaming.add_batch_s"] = m["streaming.trigger_overhead_s"] = m["streaming.batch_growth"] = 0.0

    log = tracing.read_event_log(work / "eventlog")
    m.update(tracing.spark_op_metrics(log, [(o["t0"], o["t1"]) for o in all_warm], tr["cpus"],
                                      median([o["rows"] for o in all_warm])))
    m["trace.unattributed_s"] = median([
        o["dur"] - sum(s["end"] - s["start"] for s in top if op_of(s) == o["i"]) for o in warm])
    m["trace.overhead_ratio"] = (
        median([o["dur"] for o in warm]) / median([o["dur"] for o in unrecorded]) - 1 if unrecorded else 0.0)
    if "local1_rows_per_s" in tr:
        rate = median([o["rows"] / o["dur"] for o in warm])
        m["baseline.efficiency_1to4"] = rate / tr["local1_rows_per_s"] / tr["cpus"]
        print(f"scaling: local[{tr['cpus']}] {rate:.0f} rows/s, local[1] "
              f"{tr['local1_rows_per_s']:.0f} rows/s, efficiency {m['baseline.efficiency_1to4']:.3f}")
    else:
        m["baseline.efficiency_1to4"] = 0.0
    print(f"recorded warm operations: {len(warm)}, unrecorded: {len(unrecorded)}")
    report_layers(workload, m, median([o["dur"] for o in warm]), tracing.jobs_by_span(log, spans))
    return m


# phases that partition one warm operation, and the finer components
# the ladders and spans split them into
PHASES = {
    "flagship": ["pipeline.routed_write_s", "pipeline.aggregates_s", "pipeline.lineage_metrics_s",
                 "pipeline.resume_check_s"],
    "ini_flows": [f"runtime.flow.{f}_s" for f in OUTPUT_KIND],
    "stream_microbatch": ["pipeline.routed_write_s", "pipeline.aggregates_s", "pipeline.lineage_metrics_s",
                          "pipeline.resume_check_s", "streaming.trigger_overhead_s"],
}
COMPONENTS = {
    "flagship": ["pipeline.scan_s", "pipeline.bucket_s", "pipeline.parse_s", "pipeline.enrich_route_s",
                 "pipeline.explode_s", "sinks.encode_s", "sinks.partition_s", "sinks.rename_s"],
    "ini_flows": ["io.read_s", "parsers.rfc3164_s", "parsers.rfc5424_s", "parsers.grok_s", "parsers.json_s",
                  "parsers.cef_s", "compiler.post_parse_s", "io.write_s", "compiler.build_s"],
    "stream_microbatch": ["sinks.commit_routed_s", "sinks.rename_s", "sinks.commit_per_flow_s",
                          "sinks.commit_single_s"],
}


def report_layers(workload: str, m: dict, op_s: float, jobs: dict) -> None:
    for title, names in (("phase", PHASES[workload]), ("component", COMPONENTS[workload])):
        ranked = sorted(names, key=lambda k: -m[k])
        print(f"{title} self time per warm operation ({op_s:.3f} s):")
        for k in ranked:
            print(f"  {k:32s} {m[k]:8.3f} s  {100 * m[k] / op_s:5.1f}%")
        print(f"top {title}: {ranked[0]}")
    print(f"unattributed: {m['trace.unattributed_s']:.3f} s per operation, "
          f"tracing overhead {100 * m['trace.overhead_ratio']:.1f}%")
    print("spark jobs by enclosing span: " + ", ".join(f"{k}={v}" for k, v in sorted(jobs.items())))


# ------------------------------------------------------------------ main

def run_workload(wl: str, seed: int, sec: int, trace: int) -> dict:
    """One workload end to end; the result object of the JSON line."""
    deadline = time.monotonic() + RUN_LIMIT_S
    work = ROOT / ".perfbench_work" / f"{wl}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        spawn("gen.py", [wl, seed, sec, work], work, "gen.log", deadline)
        meta = read_json(work / "input" / "meta.json")
        setup = spawn("measure.py", [wl, trace, sec, work], work, "measure.log", deadline)
        res = read_json(work / ("trace.json" if trace else "plain.json"))
        chk = check(wl, work, meta, res)
        attempted, failed = chk["attempted"], chk["failed"]
        print(f"box: cpus={cpus()} ram_mb={ram_mb()} driver_memory={driver_memory()} "
              f"workload={wl} seed={seed} seconds={sec} input_rows={meta['rows']}")
        for f in failed:
            print(f"FAILED {f}")
        print(f"error_rate: {len(failed) / attempted:.4f} ({len(failed)} of {attempted} operations)")
        if trace:
            metrics = {k: (v, unit_of(k)) for k, v in per_layer(wl, work, res, chk).items()}
        else:
            metrics = end_to_end(wl, meta, res, chk, setup)
        for k, (v, unit) in metrics.items():
            print(f"{k}: {v:.6g} {unit}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    try:
        import duckdb  # noqa: F401  the correctness oracle

        sys.path.insert(0, str(ROOT))
        import pysyslog_lfc_spark  # noqa: F401  the system under test
    except ImportError as exc:
        print(f"cannot run: {exc}", file=sys.stderr)
        return 2
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for wl in workloads:
        try:
            results[wl] = run_workload(wl, args.seed, args.seconds, args.trace)
        except ChildFailed as exc:
            print(str(exc), file=sys.stderr)
            return 1
    if args.workload != "all":
        print(json.dumps(results[args.workload]))
        return 0
    # all workloads: one object, metric names prefixed by the workload
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{wl}.{k}": v for wl, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name == "sinks.bytes_committed":
        return "B"
    if "ratio" in name or name.endswith(("growth", "efficiency_1to4")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
