"""Shared helpers for the benchmark scripts: repo import, box facts,
session options and small statistics.

Every file the benchmark writes lives under the work directory that
``run.py`` creates inside the checkout, and the Spark/JVM/Python temp
directories are pointed there too, so a run touches nothing outside
the checkout.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("flagship", "ini_flows", "stream_microbatch")


def import_repo() -> None:
    """Put the checkout root on ``sys.path`` so ``pysyslog_lfc_spark``
    imports from source (there is nothing to build)."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of physical RAM, at most 4 GiB: the session default
    (16g) exceeds small boxes that have no swap."""
    return f"{max(1, min(4, ram_mb() // 4096))}g"


def child_env(work: Path) -> dict[str, str]:
    """Environment for every process the benchmark starts: temp files
    and Spark scratch stay inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=str(tmp),
        # every JVM, the spark-submit launcher included: temp files here,
        # no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def session_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``: sized driver, scratch inside
    the work directory, and (traced runs only) the event log."""
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def open_session(work: Path, app: str, event_log: Path | None = None, n_cpus: int | None = None):
    """The system's set-up: a ready ``SparkSession`` on ``local[<cpus>]``."""
    import_repo()
    from pysyslog_lfc_spark.session import get_spark

    return get_spark(
        app, master=f"local[{n_cpus or cpus()}]", extra_conf=session_conf(work, event_log)
    )


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (``VmHWM``) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail_quantile(values: list[float]) -> tuple[float, float]:
    """(p, value): the highest percentile with at least ten samples
    beyond it when there are 20 or more samples, else p90."""
    n = len(values)
    if n == 1:
        return 0.9, values[0]
    p = 1 - 10 / n if n >= 20 else 0.9
    s = sorted(values)
    pos = p * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return p, s[lo] + (s[hi] - s[lo]) * (pos - lo)


def write_json(path: Path, obj) -> None:
    path.write_text(json.dumps(obj, indent=1, sort_keys=True))


def read_json(path: Path):
    return json.loads(path.read_text())
