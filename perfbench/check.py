"""Correctness checkers for the perfbench workloads.

Each checker returns a list of reasons (empty means the result is
correct). They run after the timed loop, never inside it.
"""
import csv
import datetime
import hashlib
import io
import math
import os
from decimal import Decimal, Context, ROUND_HALF_EVEN

_SIG = Context(prec=9, rounding=ROUND_HALF_EVEN)


# ---- row digests (the Python twin of perfbench/scala/.../RowHash.scala) ----

def _num(d):
    if d == 0:
        return "0"
    return format(_SIG.plus(d).normalize(), "f")


def cell(v):
    """Canonical text of one result cell; see RowHash.cell."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return _num(Decimal(v))
    if isinstance(v, Decimal):
        return _num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return str(v)


def digest(columns, rows):
    """Order-insensitive digest of a result: ``{"hash", "rows"}``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(cell(r[i]) for i in order)
        total = (total + int.from_bytes(
            hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
        n += 1
    head = "\x1f".join(columns[i] for i in order) + f"|{n}|{total}"
    return {"hash": hashlib.sha256(head.encode("utf-8")).digest()[:8].hex(), "rows": n}


# ---- query workloads ----

def check_queries(first, last, oracle):
    """``first``: digest of each query taken after warm-up; ``last``: a
    second digest of each query that has no oracle; ``oracle``:
    ``{name: digest}`` of the DuckDB answers. Returns ``{name: reason}``
    for every query whose result is wrong."""
    bad = {}
    for name, got in first.items():
        if "error" in got:
            bad[name] = f"failed: {got['error']}"
        elif name in oracle:
            want = oracle[name]
            if got["hash"] != want["hash"]:
                bad[name] = (f"row digest {got['hash']} ({got['rows']} rows) != oracle "
                             f"{want['hash']} ({want['rows']} rows)")
        elif name not in last:
            bad[name] = "no oracle and no second digest"
        elif last[name].get("hash") != got["hash"]:
            bad[name] = (f"digest changed within the run: {got['hash']} -> "
                         f"{last[name].get('hash', last[name].get('error'))}")
    return bad


# ---- alert_etl ----

def read_tree(root):
    """``{relative path: text}`` of every visible file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith("."):
                continue
            p = os.path.join(d, f)
            with open(p, encoding="utf-8") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def check_report_tree(tree, truth):
    """``tree``: ``read_tree`` of the published root; ``truth``: the
    expected report from ``gen.prisma_fixture``."""
    errs = []
    want_files = {f"{truth['folder']}/{n}" for n in truth["files"]} | {"_SUCCESS"}
    if set(tree) != want_files:
        errs.append(f"files {sorted(tree)} != {sorted(want_files)}")
        return errs
    for name, want in truth["files"].items():
        lines = tree[f"{truth['folder']}/{name}"].splitlines()
        if not lines or lines[0] != want["header"]:
            errs.append(f"{name}: header {lines[:1]} != {want['header']!r}")
            continue
        rows = sorted(lines[1:])
        if rows != want["rows"]:
            diff = sorted(set(rows) ^ set(want["rows"]))[:2]
            errs.append(f"{name}: {len(rows)} rows vs {len(want['rows'])} expected; "
                        f"first differing: {diff}")
    if not errs:
        alert = list(csv.reader(io.StringIO(tree[f"{truth['folder']}/Alert_Report.csv"])))
        col = alert[0].index("Failed Resource Count")
        total = sum(int(r[col]) for r in alert[1:])
        if total != truth["failed_resource_count_sum"]:
            errs.append(f"Failed Resource Count sum {total} != "
                        f"{truth['failed_resource_count_sum']}")
    return errs


# ---- stream_dedup ----

def _pair_set(rows):
    return {(int(a), int(b), cell(float(j))) for a, b, j in rows}


def check_pairs(got, want):
    """``got``: the (doc_a, doc_b, est_jaccard) rows the stream emitted;
    ``want``: the batch answer over the whole corpus. Equal as sets,
    with no pair emitted twice."""
    errs = []
    g, w = _pair_set(got), _pair_set(want)
    if len(g) != len(got):
        errs.append(f"{len(got) - len(g)} pairs emitted more than once")
    if g != w:
        errs.append(f"{len(w - g)} expected pairs missing (first: {sorted(w - g)[:2]}), "
                    f"{len(g - w)} unexpected (first: {sorted(g - w)[:2]})")
    return errs


def check_stream(fin, truth):
    """The stream's pair set, and the compaction watermark its cadence
    implies: the store compacts after every ``compact_every`` batches,
    so the last compacted batch id is ``(batches // every) * every - 1``."""
    errs = check_pairs(fin["pairs"], fin["expected_pairs"])
    n, every = truth["batches"], truth["compact_every"]
    if len(fin["progress"]) != n:
        errs.append(f"{len(fin['progress'])} micro-batches reported, {n} files landed")
    want_w = (n // every) * every - 1
    if fin["watermark"] != want_w:
        errs.append(f"compaction watermark {fin['watermark']} != {want_w} "
                    f"({n} batches, compaction every {every})")
    return errs
