"""Shared helpers: work directory, statistics, answer comparison, RSS
and the host-phase control probe."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import shutil
import time

import numpy as np
import pyarrow as pa

WORK = ".perfbench_work"  # inside the checkout; listed in .gitignore
CPUS = 4  # local[4]: the core count every workload is defined at


def fresh_work_dir(sub: str | None = None) -> str:
    """An empty work directory (or ``sub`` directory of it)."""
    work = os.path.abspath(WORK if sub is None else os.path.join(WORK, sub))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d))
    return work


def child_env(work: str) -> dict[str, str]:
    """Environment that keeps Spark, Python workers and tempfile
    output inside the work directory."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYTHONPATH": os.getcwd() + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
    })
    return env


# -- statistics ---------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(s)) - 1)
    return s[k]


def latency_summary(ms: list[float]) -> dict:
    if not ms:
        return {"n": 0}
    return {
        "n": len(ms),
        "p50_ms": percentile(ms, 50),
        "p90_ms": percentile(ms, 90),
        "beyond_p90": sum(1 for v in ms if v > percentile(ms, 90)),
    }


# -- process lifetime ---------------------------------------------------
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def become_subreaper() -> None:
    """Make this process the new parent of every orphaned descendant (a
    JVM that outlives the Python process that started it, a Python
    worker that outlives its daemon), so that ``stop_descendants`` can
    wait for each of them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children_of(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(rest[1]) == pid and rest[0] != "Z":
            out.append(int(d))
    return out


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process this one started, directly or through its
    children, and wait until each has ended: SIGTERM first (a JVM then
    runs its shutdown hooks), SIGKILL for any still alive after
    ``grace_s``. As a subreaper this process inherits every orphan, so
    having no child left means no descendant is left."""
    import signal

    me = os.getpid()
    sig, signalled = signal.SIGTERM, set()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, signalled = signal.SIGKILL, set()
        todo, seen = _children_of(me), set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            todo.extend(_children_of(pid))
            if pid not in signalled:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


# -- process-tree memory ------------------------------------------------
def driver_peak_rss_mb(root_pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of the Spark driver in MB: the Python
    process ``root_pid`` and its JVM child, and their ``total``. Python
    worker processes are left out: how many of them are alive at any
    moment is scheduling noise, not memory the Spark driver holds."""
    pids = {"python": root_pid}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
            if int(rest.split()[1]) == root_pid and comm.endswith("(java"):
                pids["jvm"] = int(d)
        except (OSError, IndexError, ValueError):
            continue
    out = {}
    for name, pid in pids.items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[name] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    out["total"] = sum(out.values())
    return out


# -- host-phase control probe ---------------------------------------------
# The host has multi-minute phases where page-fault-heavy work runs 2-4x
# slower. A fixed probe (allocate and touch 256 MB, sort 2M doubles) runs
# before and after every run; a run whose probe exceeds the calm bound is
# labelled, never replaced or retried.
PROBE_CALM_S = 0.12  # calm phases measured 0.07-0.10 s, slow ones 0.17 s and up


def control_probe() -> dict:
    best = math.inf
    rng = np.random.default_rng(0)
    data = rng.random(2_000_000)
    for _ in range(3):
        t0 = time.perf_counter()
        buf = np.ones(32 << 20)
        buf[::512] += 1.0
        np.sort(data)
        best = min(best, time.perf_counter() - t0)
        del buf
    return {"probe_s": best, "phase": "calm" if best <= PROBE_CALM_S else "slow"}


# -- answer comparison ---------------------------------------------------
def _canon(v):
    """Exact canonical form: integral numbers compare across int and
    DECIMAL encodings, floats compare bit-for-bit, containers
    recursively."""
    if v is None:
        return ("z",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("n", str(v))
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return ("n", str(int(v)))
        return ("n", str(v.normalize()))
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v.hex())
    if isinstance(v, (pa.MonthDayNano, datetime.timedelta)):
        return ("i",) + interval_parts(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Spark answers naive-UTC TIMESTAMP as a UTC instant
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return ("t", v.isoformat())
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, bytes):
        return ("y", v.hex())
    return ("s", str(v))


def interval_parts(v) -> tuple[int, int, int]:
    """(months, days, nanoseconds) of a DuckDB month_day_nano interval
    or of a Spark day-time interval (a timedelta, which has no months),
    so that equal intervals compare equal across the two encodings."""
    if isinstance(v, pa.MonthDayNano):
        return (v.months, v.days, v.nanoseconds)
    return (0, v.days, (v.seconds * 10**6 + v.microseconds) * 1000)


def _positional(t: pa.DataType) -> pa.DataType:
    """``t`` with the fields of every struct renamed ``0``, ``1``, ...
    where a struct repeats a field name (DuckDB's ``list_zip``)."""
    if pa.types.is_struct(t):
        fields = [t.field(i) for i in range(t.num_fields)]
        dup = len({f.name for f in fields}) < len(fields)
        return pa.struct([pa.field(str(i) if dup else f.name, _positional(f.type))
                          for i, f in enumerate(fields)])
    if pa.types.is_list(t):
        return pa.list_(_positional(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_positional(t.value_type))
    return t


def to_pylist(col: pa.ChunkedArray) -> list:
    """``col.to_pylist()``; structs with repeated field names, which
    Python dicts cannot hold, become positional (``0``, ``1``, ...)."""
    t = _positional(col.type)
    if t == col.type:
        return col.to_pylist()
    return [v for chunk in col.chunks for v in chunk.view(t).to_pylist()]


def exact_rows(table: pa.Table) -> tuple[tuple[str, ...], list]:
    """(sorted lower-cased column names, sorted canonical rows)."""
    names = [c.lower() for c in table.column_names]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [to_pylist(table.column(i)) for i in order]
    rows = sorted(repr(tuple(_canon(c[r]) for c in cols)) for r in range(table.num_rows))
    return tuple(names[i] for i in order), rows


def exact_diff(got: pa.Table, want: pa.Table) -> str | None:
    """None when ``got`` equals ``want`` as a row multiset with exact
    values; otherwise a short description of the first difference."""
    gn, gr = exact_rows(got)
    wn, wr = exact_rows(want)
    if gn != wn:
        return f"columns {list(gn)} != {list(wn)}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"value {a[:160]} != {b[:160]}"
    return None


def probe_norm(x):
    """The dialect probe's value normalization (tools/dialect_probe.py
    ``_norm``): 12 significant digits for floats and decimals, a 1e-12
    zero floor, instants compared naive, dates at midnight, MAP and
    zipped-struct shapes folded, intervals as (months, days, ns)."""
    if isinstance(x, (pa.MonthDayNano, datetime.timedelta)):
        return "interval%r" % (interval_parts(x),)
    if isinstance(x, dict):
        if (
            set(x) == {"key", "value"}
            and isinstance(x.get("key"), list)
            and isinstance(x.get("value"), list)
            and len(x["key"]) == len(x["value"])
        ):
            x = dict(zip(x["key"], x["value"]))
        elif x and all(k == str(i) for i, k in enumerate(x)):
            return [probe_norm(v) for v in x.values()]
        return {k: probe_norm(v) for k, v in sorted(x.items(), key=repr)}
    if isinstance(x, (list, tuple)):
        return [probe_norm(v) for v in x]
    if isinstance(x, decimal.Decimal):
        x = float(x)
    if isinstance(x, float):
        if abs(x) < 1e-12:
            return 0.0
        return float(f"{x:.12g}")
    if isinstance(x, datetime.datetime):
        return x.replace(tzinfo=None).isoformat()
    if isinstance(x, datetime.date):
        return x.isoformat() + "T00:00:00"
    return x


def _arrow_rows(table: pa.Table) -> list[tuple]:
    cols = [to_pylist(table.column(i)) for i in range(table.num_columns)]
    out = []
    for r in range(table.num_rows):
        row = []
        for c, f in zip(cols, table.schema):
            v = c[r]
            if pa.types.is_map(f.type) and v is not None:
                v = dict(v)
            row.append(v)
        out.append(tuple(row))
    return out


def probe_diff(got: pa.Table, want: pa.Table) -> str | None:
    """Value-multiset compare under ``probe_norm`` (column names and
    order ignored, as in the dialect probe)."""
    g = sorted(repr(sorted((probe_norm(v) for v in r), key=repr)) for r in _arrow_rows(got))
    w = sorted(repr(sorted((probe_norm(v) for v in r), key=repr)) for r in _arrow_rows(want))
    if g != w:
        return f"value {g[:2]} != {w[:2]}"[:300]
    return None


def table_digest_fast(table: pa.Table) -> int:
    """Order-insensitive 64-bit content hash (vectorized), used to check
    repeated answers against the one verified exactly."""
    import pandas as pd

    if table.num_rows == 0:
        return 0
    df = table.to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(repr)
    return int(pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype=np.uint64))
