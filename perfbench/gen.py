"""Input generator: one plain Python process (no JVM), run before the
measured session.

    python gen.py <workload> <seed> <seconds> <work_dir>

Writes the workload's inputs under ``<work_dir>/input`` and their
description to ``input/meta.json``; the same seed gives the same bytes.

- ``flagship`` / ``stream_microbatch``: the ``sequences`` table in the
  shape and distributions of ``sources.datagen.sequences_df`` (FIXTURES
  §1: ``doc-%010d`` ids, 8-512 int32 tokens from a 50257 vocabulary,
  Zipf(1.2) sources over 32 hosts, RFC3164 ``message``), drawn with
  numpy and written with pyarrow, plus the enrichment lookup rows of
  ``source_lookup_df``. The stream input is many small files, one per
  micro-batch. The lookup rows are ``source_lookup_df``'s default table
  for every seed, so the routing fan-out does not change with the seed.
- ``ini_flows``: text log files for five parsers (rfc3164, rfc5424,
  grok/apache, json, cef), and the ground truth: the rendered lines each
  flow must output and the rows its DLQ must hold.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
from datetime import datetime, timezone
from pathlib import Path

from bench_common import import_repo, write_json

FLAGSHIP_ROWS = 40_000
FLAGSHIP_FILES = 16
STREAM_ROWS_PER_FILE = 2_000
STREAM_NOMINAL_BATCH_S = 2.0  # sizes the file count to the run length
INI_LINES = 16_000  # per leaf flow
INI_FILES = 4  # per leaf flow


def stream_files(seconds: int) -> int:
    """One cold micro-batch plus enough warm ones to fill ``seconds``."""
    return 1 + max(5, round(seconds / STREAM_NOMINAL_BATCH_S))


def line_digest(lines) -> dict:
    """Order-independent digest of a multiset of lines."""
    total = 0
    n = 0
    for ln in lines:
        h = hashlib.blake2b(ln.encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    return {"rows": n, "sum": total}


# ------------------------------------------------------------------ sequences

class _RowSink:
    """Stands in for ``SparkSession.createDataFrame``: keeps the rows."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - Spark's name
        return rows


def gen_sequences(inp: Path, seed: int, rows: int, files: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import_repo()
    from pysyslog_lfc_spark.sources import datagen

    rng = np.random.default_rng(seed)
    ids = np.arange(rows)
    n_tok = rng.integers(8, 513, rows, dtype=np.int32)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, datagen.VOCAB, int(offsets[-1]), dtype=np.int32))
    )
    weights = 1.0 / (np.arange(datagen.N_SOURCES) + 1) ** 1.2
    src_idx = np.searchsorted(np.cumsum(weights / weights.sum())[:-1], rng.random(rows), side="right")
    facility = rng.integers(0, 24, datagen.N_SOURCES)[src_idx]
    pri = facility * 8 + rng.integers(0, 8, rows)
    prog = rng.integers(0, 20, rows)
    pid = rng.integers(1, 32001, rows)
    secs = datagen.EPOCH_2000 + (ids * 7919) % (360 * 86400)
    doc_ids, sources, messages = [], [], []
    for i in range(rows):
        doc, src = f"doc-{i:010d}", f"host-{src_idx[i]:02d}"
        ts = datetime.fromtimestamp(int(secs[i]), timezone.utc).strftime("%b %d %H:%M:%S")
        doc_ids.append(doc)
        sources.append(src)
        messages.append(f"<{pri[i]}>{ts} {src} prog{prog[i]:02d}[{pid[i]}]: doc={doc} n={n_tok[i]}")
    table = pa.table({"doc_id": doc_ids, "tokens": tokens, "n_tok": n_tok,
                      "source": sources, "message": messages})
    (inp / "seq").mkdir(parents=True)
    step = -(-rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), inp / "seq" / f"part-{k:05d}.parquet")
    # the lookup is configuration, not load: one fixed table (the
    # datagen default) keeps the routing fan-out the same for every seed
    lookup = datagen.source_lookup_df(_RowSink())
    (inp / "lookup").mkdir()
    pq.write_table(
        pa.table(dict(zip(["source", "site", "owner", "env", "severity_floor"], map(list, zip(*lookup))))),
        inp / "lookup" / "part-00000.parquet",
    )


# ------------------------------------------------------------------ INI logs

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
WORDS = ["user", "login", "ok", "error", "disk", "cache", "payment", "queue", "retry", "sync",
         "timeout", "write", "read", "billing", "shard", "lease"]
# shares of rfc3164 lines the parser must reject (they pass the input filter)
RFC3164_BAD_PRI = 0.04
RFC3164_BAD_DATE = 0.03
RFC3164_GARBAGE = 0.02
RFC3164_COMMENT = 0.03  # dropped by the input-stage filter, never reach the DLQ


def _words(r: random.Random, k: int) -> str:
    return " ".join(r.choice(WORDS) for _ in range(k))


def _rfc3164(r: random.Random, n: int):
    """(lines, rendered, dlq): raw lines, expected output, expected rejects."""
    lines, out, dlq = [], [], []
    for _ in range(n):
        u = r.random()
        host = f"host-{r.randrange(12):02d}"
        prog = f"prog{r.randrange(20):02d}"
        pid = r.randrange(1, 32000)
        hms = f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d}"
        day = f"{r.choice(MONTHS)} {r.randrange(1, 29):02d}"
        msg = _words(r, r.randrange(3, 9))
        pri = r.randrange(192)
        if u < RFC3164_COMMENT:
            lines.append(f"# rotated {msg}")
            continue
        u -= RFC3164_COMMENT
        if u < RFC3164_BAD_PRI:
            bad = f"<{r.randrange(192, 1000)}>{day} {hms} {host} {prog}[{pid}]: {msg}"
        elif u < RFC3164_BAD_PRI + RFC3164_BAD_DATE:
            bad = f"<{pri}>Feb 31 {hms} {host} {prog}[{pid}]: {msg}"
        elif u < RFC3164_BAD_PRI + RFC3164_BAD_DATE + RFC3164_GARBAGE:
            bad = f"<{pri}> {msg}"
        else:
            bad = None
        if bad is not None:
            lines.append(bad)
            dlq.append(bad)
            continue
        sev = pri % 8
        lines.append(f"<{pri}>{day} {hms} {host} {prog}[{pid}]: {msg}")
        if sev <= 5 and host != "host-07":
            out.append(f"{host} {prog}[{pid}] sev={sev}: {msg}")
    return lines, out, dlq


def _rfc5424(r: random.Random, n: int):
    lines, out = [], []
    for _ in range(n):
        pri = r.randrange(192)
        ts = (f"2000-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}"
              f"T{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d}Z")
        host = f"host-{r.randrange(12):02d}"
        app = f"app{r.randrange(6)}"
        procid = str(r.randrange(1, 9000))
        msgid = f"ID{r.randrange(8)}"
        msg = _words(r, r.randrange(3, 9))
        sd = f'[ex@32473 k="{r.randrange(100)}" u="{r.choice(WORDS)}"]'
        lines.append(f"<{pri}>1 {ts} {host} {app} {procid} {msgid} {sd} {msg}")
        if app != "app3" and "ok" in msg:
            out.append(f"{host} {app} {msgid} ex@32473: {msg}")
    return lines, out


def _apache(r: random.Random, n: int):
    lines, out = [], []
    methods = ["GET", "GET", "GET", "POST", "PUT", "HEAD", "DELETE"]
    statuses = [200, 200, 200, 201, 301, 304, 400, 403, 404, 500, 503]
    users = ["alice", "bob", "carol", "dave", "erin", "frank"]
    for _ in range(n):
        ip = f"10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(1, 255)}"
        user = r.choice(users)
        method = r.choice(methods)
        path = "/" + "/".join(r.choice(WORDS) for _ in range(r.randrange(1, 4)))
        status = r.choice(statuses)
        nbytes = r.randrange(0, 100_000)
        ts = (f"{r.randrange(1, 29):02d}/{r.choice(MONTHS)}/2026:"
              f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d} +0000")
        lines.append(f'{ip} - {user} [{ts}] "{method} {path} HTTP/1.1" {status} {nbytes}')
        if status >= 300 and method != "HEAD":
            out.append(f"{ip} {user} {method} {path} -> {status}")
    return lines, out


def _json(r: random.Random, n: int):
    """(lines, app, app_err, app_bill): the json flow and its two
    chained consumers."""
    lines, app, err, bill = [], [], [], []
    services = ["billing", "web", "cache", "auth", "search"]
    levels = ["debug", "info", "info", "warning", "error"]
    for _ in range(n):
        rec = {
            "level": r.choice(levels),
            "message": _words(r, r.randrange(2, 7)),
            "service": r.choice(services),
            "latency_ms": r.randrange(0, 5000),
        }
        lines.append(json.dumps(rec))
        if rec["level"] == "debug":
            continue
        rendered = f"[{rec['service']}] {rec['level']} {rec['message']} ({rec['latency_ms']}ms)"
        app.append(rendered)
        if "error" in rendered:
            err.append(rendered)
        if "[billing]" in rendered:
            bill.append(f"BILL {rendered}")
    return lines, app, err, bill


def _cef(r: random.Random, n: int):
    lines, out = [], []
    vendors = [("Acme", "IDS"), ("Acme", "FW"), ("Globex", "WAF"), ("Initech", "EDR")]
    names = ["Port scan detected", "Login failure burst", "Policy breach", "Malware blocked"]
    for _ in range(n):
        vendor, product = r.choice(vendors)
        name = r.choice(names)
        sev = r.randrange(0, 11)
        src = f"{r.choice(['10', '172', '192'])}.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(1, 255)}"
        msg = _words(r, r.randrange(2, 7))
        lines.append(f"CEF:0|{vendor}|{product}|2.1|{r.randrange(1000, 3000)}|{name}|{sev}|src={src} msg={msg}")
        if sev >= 4 and src.startswith("10."):
            out.append(f"[{sev}] {vendor}/{name} src={src}: {msg}")
    return lines, out


INI_TEMPLATE = """\
[flow.sys3164]
input.type = file
input.path = {inp}/rfc3164
parser.type = rfc3164
parser.validate = true
parser.dlq_path = {out}/dlq
filter.raw.type = field
filter.raw.stage = input
filter.raw.field = raw
filter.raw.op = regex
filter.raw.pattern = ^<
filter.sev.type = numeric
filter.sev.field = severity
filter.sev.op = le
filter.sev.value = 5
filter.host.type = field
filter.host.stage = output
filter.host.field = hostname
filter.host.op = ne
filter.host.value = host-07
output.type = parquet
output.path = {out}/sys3164
output.format = text
format.template = {{hostname}} {{program}}[{{pid}}] sev={{severity}}: {{message}}

[flow.sys5424]
input.type = file
input.path = {inp}/rfc5424
parser.type = rfc5424
filter.app.type = field
filter.app.field = app_name
filter.app.op = ne
filter.app.value = app3
filter.ok.type = field
filter.ok.stage = output
filter.ok.field = message
filter.ok.op = contains
filter.ok.value = ok
output.type = jsonl
output.path = {out}/sys5424
output.format = text
format.template = {{hostname}} {{app_name}} {{msgid}} {{sd_id}}: {{message}}

[flow.web]
input.type = file
input.path = {inp}/apache
parser.type = grok
parser.pattern = %{{IPV4:client}} - %{{USER:user}} \\[%{{HTTPDATE:ts}}\\] "%{{WORD:method}} %{{PATH:path}} HTTP/%{{NUMBER:httpver}}" %{{INT:status:int}} %{{INT:bytes:int}}
filter.st.type = numeric
filter.st.field = status
filter.st.op = ge
filter.st.value = 300
filter.head.type = field
filter.head.stage = output
filter.head.field = method
filter.head.op = ne
filter.head.value = HEAD
output.type = parquet
output.path = {out}/web
output.format = text
format.template = {{client}} {{user}} {{method}} {{path}} -> {{status}}

[flow.app]
input.type = file
input.path = {inp}/json
parser.type = json
parser.schema = level string, message string, service string, latency_ms long
filter.raw.type = field
filter.raw.stage = input
filter.raw.field = raw
filter.raw.op = contains
filter.raw.value = level
filter.lvl.type = field
filter.lvl.field = level
filter.lvl.op = ne
filter.lvl.value = debug
output.type = parquet
output.path = {out}/app
output.format = text
format.template = [{{service}}] {{level}} {{message}} ({{latency_ms}}ms)

[flow.app_err]
input.type = flow
input.source = app
parser.type = text
filter.err.type = field
filter.err.field = message
filter.err.op = contains
filter.err.value = error
output.type = jsonl
output.path = {out}/app_err
output.format = text
format.template = {{message}}

[flow.app_bill]
input.type = flow
input.source = app
parser.type = text
filter.bill.type = field
filter.bill.field = message
filter.bill.op = contains
filter.bill.value = [billing]
output.type = parquet
output.path = {out}/app_bill
output.format = text
format.template = BILL {{message}}

[flow.cef]
input.type = file
input.path = {inp}/cef
parser.type = cef
parser.extensions = src,msg
parser.types = string,string
filter.sev.type = numeric
filter.sev.field = severity
filter.sev.op = ge
filter.sev.value = 4
filter.net.type = field
filter.net.stage = output
filter.net.field = src
filter.net.op = regex
filter.net.pattern = ^10\\.
output.type = jsonl
output.path = {out}/cef
output.format = text
format.template = [{{severity}}] {{vendor}}/{{name}} src={{src}}: {{msg}}
"""

# leaf flow -> (input dir, parser); the chained flows read `app`
LEAF_FLOWS = {
    "sys3164": ("rfc3164", "rfc3164"),
    "sys5424": ("rfc5424", "rfc5424"),
    "web": ("apache", "grok"),
    "app": ("json", "json"),
    "cef": ("cef", "cef"),
}
OUTPUT_KIND = {"sys3164": "parquet", "sys5424": "jsonl", "web": "parquet", "app": "parquet",
               "app_err": "jsonl", "app_bill": "parquet", "cef": "jsonl"}


def ini_config(inp: Path, out: Path) -> str:
    return INI_TEMPLATE.format(inp=inp, out=out)


def gen_ini(inp: Path, seed: int, n: int) -> dict:
    r = random.Random(seed)
    sys3164, out3164, dlq = _rfc3164(r, n)
    sys5424, out5424 = _rfc5424(r, n)
    web, outweb = _apache(r, n)
    app, outapp, outerr, outbill = _json(r, n)
    cef, outcef = _cef(r, n)
    inputs = {"rfc3164": sys3164, "rfc5424": sys5424, "apache": web, "json": app, "cef": cef}
    for d, lines in inputs.items():
        (inp / d).mkdir(parents=True)
        k = -(-len(lines) // INI_FILES)
        for i in range(INI_FILES):
            chunk = lines[i * k:(i + 1) * k]
            (inp / d / f"part-{i}.log").write_text("".join(ln + "\n" for ln in chunk))
    expected = {"sys3164": out3164, "sys5424": out5424, "web": outweb, "app": outapp,
                "app_err": outerr, "app_bill": outbill, "cef": outcef}
    return {
        "rows": sum(len(v) for v in inputs.values()),
        "leaf_rows": {f: len(inputs[d]) for f, (d, _) in LEAF_FLOWS.items()},
        "expected": {f: line_digest(v) for f, v in expected.items()},
        "dlq": line_digest(dlq),
    }


def main() -> None:
    workload, seed, seconds, work = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), Path(sys.argv[4])
    inp = work / "input"
    inp.mkdir(parents=True)
    if workload == "flagship":
        gen_sequences(inp, seed, FLAGSHIP_ROWS, FLAGSHIP_FILES)
        meta = {"rows": FLAGSHIP_ROWS, "files": FLAGSHIP_FILES}
    elif workload == "stream_microbatch":
        files = stream_files(seconds)
        gen_sequences(inp, seed, files * STREAM_ROWS_PER_FILE, files)
        meta = {"rows": files * STREAM_ROWS_PER_FILE, "files": files}
    else:
        meta = gen_ini(inp, seed, INI_LINES)
    meta.update(workload=workload, seed=seed)
    write_json(inp / "meta.json", meta)


if __name__ == "__main__":
    main()
