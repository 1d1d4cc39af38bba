"""Correctness gate, run by the parent after the measured session has
exited (outside every timed region).

The expected answers come from an independent DuckDB computation over
the generated input (``flagship``, ``stream_microbatch``: the FIXTURES
§3 routing predicates re-derived in SQL) or from the generator's
ground truth (``ini_flows``). Each check returns the failed operations;
a mismatch fails the operation it belongs to.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import duckdb

from gen import OUTPUT_KIND, line_digest

SINKS = ("sink_errors", "sink_app", "sink_catchall")
# the strict RFC3164 shape the flagship counts as parse_ok (FIXTURES §1)
_MSG = r"^<(\d{1,3})>([A-Z][a-z]{2} [0-3]\d \d{2}:\d{2}:\d{2}) (\S+) (\S+?)\[(\d+)\]: (.*)$"


def connect(work: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{work / 'tmp' / 'duckdb'}'")
    return con


def _int(v) -> int:
    return int(v or 0)


def expected_routing(con, seq_glob: str, lookup_glob: str, by_file: bool = False) -> dict:
    """Per sink (and per input file when ``by_file``): rows, Σ n_tok,
    Σ token values; plus rows_in and parse_ok."""
    key = "filename" if by_file else "'all'"
    sums = ", ".join(
        f"sum(CASE WHEN {p} THEN 1 ELSE 0 END), sum(CASE WHEN {p} THEN n_tok END), "
        f"sum(CASE WHEN {p} THEN list_sum(tokens) END)"
        for p in ("is_err", "is_app", "is_catch")
    )
    rows = con.execute(f"""
        WITH s AS (
            SELECT filename, n_tok, tokens, message, source,
                   TRY_CAST(regexp_extract(message, '^<(\\d{{1,3}})>', 1) AS INTEGER) AS pri,
                   regexp_matches(message, '{_MSG}') AS ok
            FROM read_parquet('{seq_glob}', filename = true)),
        p AS (
            SELECT s.*, pri % 8 <= 3 AS err, contains(message, 'doc=') AND l.env = 'prod' AS app
            FROM s LEFT JOIN read_parquet('{lookup_glob}') l USING (source)),
        e AS (  -- a NULL predicate routes nowhere, as in Spark
            SELECT *, coalesce(err, false) AS is_err, coalesce(app, false) AS is_app,
                   coalesce(NOT err AND NOT app, false) AS is_catch
            FROM p)
        SELECT {key}, count(*), sum(ok::INTEGER), {sums} FROM e GROUP BY 1
    """).fetchall()
    out = {}
    for r in rows:
        out[r[0]] = {
            "rows_in": _int(r[1]),
            "parse_ok": _int(r[2]),
            "sinks": {s: tuple(_int(v) for v in r[3 + 3 * k: 6 + 3 * k]) for k, s in enumerate(SINKS)},
        }
    return out


def warehouse_by_job(con, wh: Path) -> dict:
    """job -> sink -> (rows, Σ n_tok, Σ tokens, Σ aggregate cnt)."""
    out: dict = {}
    for sink in SINKS:
        if not list((wh / sink).glob("bucket=*/job=*/*.parquet")):
            continue
        for job, n, ntok, tok in con.execute(f"""
            SELECT regexp_extract(filename, 'job=([^/]+)/', 1), count(*), sum(n_tok), sum(list_sum(tokens))
            FROM read_parquet('{wh}/{sink}/bucket=*/job=*/*.parquet', filename = true,
                              hive_partitioning = false)
            GROUP BY 1
        """).fetchall():
            out.setdefault(job, {})[sink] = [_int(n), _int(ntok), _int(tok), 0]
        if list((wh / f"{sink}_agg").glob("job=*/*.parquet")):
            for job, cnt in con.execute(f"""
                SELECT regexp_extract(filename, 'job=([^/]+)/', 1), sum(cnt)
                FROM read_parquet('{wh}/{sink}_agg/job=*/*.parquet', filename = true,
                                  hive_partitioning = false)
                GROUP BY 1
            """).fetchall():
                out.setdefault(job, {}).setdefault(sink, [0, 0, 0, 0])[3] = _int(cnt)
    return out


def _sink_tuple(got: dict, sink: str) -> tuple:
    return tuple(got.get(sink, [0, 0, 0, 0])[:3])


def _aggs_ok(got: dict) -> bool:
    return all(v[3] == v[0] for v in got.values())


def check_flagship(con, work: Path, ops: list[dict]) -> list[str]:
    """Failed ops (as reasons). Per op: sink rows and token checksums
    equal the DuckDB expectation, Σ aggregate cnt equals sink rows, and
    the run's counters are conserved."""
    inp = work / "input"
    exp = expected_routing(con, f"{inp}/seq/*.parquet", f"{inp}/lookup/*.parquet")["all"]
    failed = []
    for op in ops:
        if op["error"]:
            failed.append(f"op {op['i']}: {op['error']}")
            continue
        got = warehouse_by_job(con, Path(op["out"])).get(f"job{op['i']}", {})
        m = op["metrics"]
        problems = [s for s in SINKS if _sink_tuple(got, s) != exp["sinks"][s]]
        if not _aggs_ok(got):
            problems.append("aggregate cnt != sink rows")
        if m.get("rows_in") != exp["rows_in"] or m.get("parse_ok") != exp["parse_ok"]:
            problems.append("rows_in/parse_ok")
        if m.get("written_rows") != sum(m.get(f"written_{s}", -1) for s in SINKS):
            problems.append("written_rows != sum of written_<sink>")
        for s in SINKS:
            if not (m.get(f"rows_{s}") == m.get(f"written_{s}") == exp["sinks"][s][0]):
                problems.append(f"rows/written {s}")
        if problems:
            failed.append(f"op {op['i']}: {', '.join(problems)}")
    return failed


def check_stream(con, work: Path, ops: list[dict], out: Path, files: int) -> list[str]:
    """Each micro-batch's commit must equal one input file's expectation
    (batches consume one file each); the union then equals the whole
    input, and the batch count equals the file count."""
    inp = work / "input"
    per_file = expected_routing(con, f"{inp}/seq/*.parquet", f"{inp}/lookup/*.parquet", by_file=True)
    unused = Counter(tuple(v["sinks"][s] for s in SINKS) for v in per_file.values())
    got = warehouse_by_job(con, out)
    failed = []
    for op in ops:
        g = got.get(f"s-b{op['batch']}", {})
        key = tuple(_sink_tuple(g, s) for s in SINKS)
        if unused[key] > 0 and _aggs_ok(g):
            unused[key] -= 1
        else:
            failed.append(f"batch {op['batch']}: commit matches no input file")
    missing = files - len(ops)
    failed += [f"{missing} input files never committed"] * max(0, missing)
    return failed


def _output_lines(con, path: Path, kind: str) -> list[str]:
    if kind == "parquet":
        if not list(path.glob("*.parquet")):
            return []
        return [r[0] for r in con.execute(f"SELECT rendered FROM read_parquet('{path}/*.parquet')").fetchall()]
    lines = []
    for part in sorted(path.glob("part-*")):
        lines += part.read_text().splitlines()
    return lines


def check_ini(con, meta: dict, ops: list[dict]) -> tuple[int, list[str], list[int]]:
    """(attempted flows, failed flows as reasons, DLQ rows per op): per
    flow the multiset of rendered output lines equals the ground truth;
    the DLQ holds exactly the malformed lines."""
    attempted, failed, dlq_rows = 0, [], []
    for op in ops:
        attempted += len(OUTPUT_KIND)
        if op["error"]:
            failed += [f"op {op['i']}: {op['error']}"] * len(OUTPUT_KIND)
            continue
        out = Path(op["out"])
        bad = {}
        for flow, kind in OUTPUT_KIND.items():
            got = line_digest(_output_lines(con, out / flow, kind))
            if got != meta["expected"][flow]:
                bad[flow] = f"{got['rows']} rows, expected {meta['expected'][flow]['rows']}"
        dlq = []
        if list((out / "dlq").glob("*.parquet")):
            dlq = [r[0] for r in con.execute(f"SELECT value FROM read_parquet('{out}/dlq/*.parquet')").fetchall()]
        dlq_rows.append(len(dlq))
        if line_digest(dlq) != meta["dlq"]:  # the DLQ belongs to the rfc3164 flow
            bad["sys3164"] = f"DLQ {len(dlq)} rows, expected {meta['dlq']['rows']}"
        failed += [f"op {op['i']} flow {flow}: {why}" for flow, why in bad.items()]
    return attempted, failed, dlq_rows


def committed(path: Path) -> dict:
    """Data files, their bytes and their directories under ``path``
    (Spark's ``.crc``/``_SUCCESS`` side files excluded)."""
    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return {"files": len(files), "bytes": sum(p.stat().st_size for p in files),
            "dirs": len({p.parent for p in files})}
