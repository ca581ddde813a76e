"""In-memory span tracing around the program's public layer calls.

Spans are recorded by wrapping the public functions of each layer
(``SparkFlightServer.do_*``, the engine's statement router, SQL front
end, serving, ingest and DML entry points, the dialect translator,
``Exchanger.apply`` and the registry builders) from the benchmark
side; nothing in the program changes. Each span keeps its name, start,
end, parent and request id. Time spent blocked in py4j round-trips is
charged to the innermost open span as a ``py4j`` child, so every
layer's self time (span minus children) sums back to the root span.

``parse_event_log`` reads a Spark event log and attributes every job,
stage and task to the request id carried in ``spark.job.description``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

# layer name -> [(module path, attribute path, kind)]; kind "static"
# marks staticmethods that must be re-wrapped as staticmethods
LAYERS = {
    "route": [
        ("mallard_spark.engine", "MallardEngine.split_statements", "static"),
        ("mallard_spark.engine", "MallardEngine.is_ddl", "static"),
        ("mallard_spark.engine", "MallardEngine.is_dml", "static"),
        ("mallard_spark.engine", "MallardEngine.is_copy", "static"),
        ("mallard_spark.engine", "MallardEngine.execute", "method"),
        ("mallard_spark.engine", "MallardEngine.run_statement", "method"),
    ],
    "dialect": [
        ("mallard_spark.dialect", "duckdb_to_spark", "function"),
        ("mallard_spark.dialect", "translate_variants", "function"),
    ],
    "sql": [("mallard_spark.engine", "MallardEngine.sql", "method")],
    "serve": [("mallard_spark.engine", "stream_df_arrow", "function")],
    "ingest": [
        ("mallard_spark.engine", "ingest_stream_to_df", "function"),
        ("mallard_spark.engine", "MallardEngine.put", "method"),
    ],
    "dml": [
        ("mallard_spark.engine", "MallardEngine.dml", "method"),
        ("mallard_spark.engine", "MallardEngine.ddl", "method"),
        ("mallard_spark.merge_sql", "execute_merge", "function"),
    ],
    "exchange": [("mallard_spark.exchange", "Exchanger.apply", "method")],
}

# every layer a self time is reported for, in blocking-path order
SELF_LAYERS = (
    "client", "flight", "route", "dialect", "sql", "serve", "ingest",
    "dml", "exchange", "build", "sink", "py4j",
)


_PY4J_RELEASE = "m\nd\n"  # py4j protocol: memory command, delete subcommand


def _py4j_kind(command) -> str:
    """The count a py4j command goes to. Object releases run whenever
    Python's garbage collector frees a JavaObject, and ``setCallSite``
    is sent only when no other thread is inside a DataFrame action
    (pyspark's ``SCCallSiteSync`` keeps one stack depth for all
    threads), so both are timed but kept out of ``py4j_calls``, which
    must repeat exactly."""
    if not isinstance(command, str):
        return "py4j_calls"
    if command.startswith(_PY4J_RELEASE):
        return "py4j_release_calls"
    if command.startswith("c\n") and command.split("\n", 3)[2:3] == ["setCallSite"]:
        return "py4j_callsite_calls"
    return "py4j_calls"


class Tracer:
    """Thread-aware span recorder; all state lives on the instance."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_rid(self) -> str | None:
        st = self._stack()
        return st[-1]["rid"] if st else None

    def open(self, name: str, rid: str | None = None) -> dict:
        st = self._stack()
        parent = st[-1] if st else None
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            "py4j_s": 0.0,
        }
        st.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        s = self.open(name, rid)
        try:
            yield s
        finally:
            self.close(s)

    def count(self, key: str, n: float = 1.0) -> None:
        rid = self.current_rid()
        with self._lock:
            self.counts[rid or "-"][key] += n

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- installation --------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._installed.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install_layers(self) -> None:
        """Wrap every layer entry point listed in LAYERS."""
        import importlib

        for layer, targets in LAYERS.items():
            for module, path, kind in targets:
                owner = importlib.import_module(module)
                *outer, attr = path.split(".")
                for part in outer:
                    owner = getattr(owner, part)
                raw = owner.__dict__[attr]
                fn = raw.__func__ if kind == "static" else raw
                wrapped = self.wrap(fn, layer)
                self._patch(owner, attr, staticmethod(wrapped) if kind == "static" else wrapped)
        from pyspark.sql import SparkSession

        tracer = self
        orig_sql = SparkSession.sql

        @functools.wraps(orig_sql)
        def counted_sql(session, *args, **kwargs):
            tracer.count("spark_sql_calls")
            try:
                return orig_sql(session, *args, **kwargs)
            except Exception:
                tracer.count("spark_sql_failures")
                raise

        self._patch(SparkSession, "sql", counted_sql)

        import mallard_spark.dialect as dialect
        from mallard_spark.engine import MallardEngine
        from pyspark.sql.classic.dataframe import DataFrame

        self._install_counting(dialect, "translate_variants", "dialect_variant_calls",
                               "dialect_variants")
        self._install_counting(dialect, "duckdb_to_spark", "dialect_calls")
        self._install_counting(MallardEngine, "split_statements", None, "statements")
        self._install_counting(DataFrame, "localCheckpoint", "checkpoints")

    def _install_counting(self, owner, attr: str, calls_key: str | None,
                          len_key: str | None = None) -> None:
        """Count calls of ``owner.attr`` and/or the length of its result."""
        raw = owner.__dict__[attr]
        static = isinstance(raw, staticmethod)
        inner = raw.__func__ if static else raw
        tracer = self

        @functools.wraps(inner)
        def counting(*args, **kwargs):
            out = inner(*args, **kwargs)
            if calls_key:
                tracer.count(calls_key)
            if len_key:
                tracer.count(len_key, len(out))
            return out

        self._patch(owner, attr, staticmethod(counting) if static else counting)

    def install_py4j(self) -> None:
        """Count and time every py4j round-trip, charged to the
        innermost open span on the calling thread."""
        import py4j.clientserver
        import py4j.java_gateway

        tracer = self
        for owner in (py4j.clientserver.JavaClient, py4j.java_gateway.GatewayClient):
            if "send_command" not in owner.__dict__:
                continue
            orig = owner.__dict__["send_command"]

            def send_command(client, command, *args, _orig=orig, **kwargs):
                t0 = time.perf_counter()
                try:
                    return _orig(client, command, *args, **kwargs)
                finally:
                    dt = time.perf_counter() - t0
                    st = tracer._stack()
                    if st:
                        st[-1]["py4j_s"] += dt
                    tracer.count(_py4j_kind(command))
                    tracer.count("py4j_s", dt)

            self._patch(owner, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._installed):
            setattr(owner, attr, orig)
        self._installed.clear()

    def dump(self) -> dict:
        with self._lock:
            return {
                "spans": list(self.spans),
                "counts": {k: dict(v) for k, v in self.counts.items()},
            }


def _own_seconds(spans: list[dict]) -> dict[int, float]:
    """Per span id: the span minus its child spans and py4j time."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_s[s["id"]] - s["py4j_s"] for s in spans}


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per request id: layer -> self seconds (span minus children,
    with py4j time charged to the ``py4j`` layer)."""
    own = _own_seconds(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        out[s["rid"] or "-"][s["name"]] += own[s["id"]]
        out[s["rid"] or "-"]["py4j"] += s["py4j_s"]
    return out


def attribution_errors(spans: list[dict], window: tuple[float, float]) -> tuple[dict, float]:
    """What the self times cannot account for: (per request id, seconds
    of negative self time plus seconds its spans on different threads
    overlap, i.e. are counted twice; seconds of spans without a request
    id inside ``window``, work no request is charged for)."""
    own = _own_seconds(spans)
    err: dict[str, float] = defaultdict(float)
    by_thread: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    orphan_s = 0.0
    for s in spans:
        if s["rid"] is None:
            if s["parent"] is None:
                orphan_s += max(0.0, min(s["end"], window[1]) - max(s["start"], window[0]))
            continue
        err[s["rid"]] += max(0.0, -own[s["id"]])
        by_thread[s["rid"]][s["thread"]].append([s["start"], s["end"]])
    for rid, threads in by_thread.items():
        if len(threads) > 1:
            each = sum(union_ms(iv) for iv in threads.values())
            err[rid] += each - union_ms([iv for ivs in threads.values() for iv in ivs])
    return dict(err), orphan_s


# SQL metrics of the Python (Arrow) evaluation nodes -> our names
PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python_bytes_sent",
    "time to run Python workers": "python_run_ms",
}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Spark event log(s) -> per job description: counts and task
    metric sums, plus the job wall intervals (epoch ms)."""
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list[list[float]]] = defaultdict(list)
    # one application per entry: a plain file, or a rolling-log
    # directory of events_<n>_<app> files read in order
    apps = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            files = glob.glob(os.path.join(entry, "events_*"))
            apps.append(sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1])))
        else:
            apps.append([entry])
    for files in apps:
        stage_desc: dict[int, str] = {}
        job_desc: dict[int, str] = {}
        job_start: dict[int, float] = {}
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or "-"
                job_desc[ev["Job ID"]] = desc
                job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
                per[desc]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_desc[sid] = desc
            elif kind == "SparkListenerJobEnd":
                desc = job_desc.get(ev["Job ID"], "-")
                intervals[desc].append(
                    [job_start.get(ev["Job ID"], 0), ev.get("Completion Time", 0)]
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                per[stage_desc.get(info["Stage ID"], "-")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev.get("Stage ID"), "-")
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                p = per[desc]
                p["tasks"] += 1
                run = m.get("Executor Run Time", 0)
                p["task_run_ms"] += run
                p["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                p["gc_ms"] += m.get("JVM GC Time", 0)
                wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                p["scheduler_delay_ms"] += max(
                    0.0,
                    wall - run - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0),
                )
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                p["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                p["shuffle_fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                for acc in info.get("Accumulables", []):
                    key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                    if key:
                        p[key] += float(acc.get("Update", 0) or 0)
    out = {k: dict(v) for k, v in per.items()}
    for desc, iv in intervals.items():
        out.setdefault(desc, {})["job_wall_ms"] = union_ms(iv)
    return out


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def union_ms(intervals: list[list[float]]) -> float:
    """Length of the union of [start, end] intervals (any unit)."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
