"""``wire_query``: a closed loop of DuckDB-SQL ``do_get`` tickets.

Two client threads, each with its own connection to its own
``SparkFlightServer``; both servers share one SparkSession in a
separate server process. Tickets come from three frozen statement
classes, drawn in a seeded order:

- ``olap``: registry oracle SQL of the 12 relational and event
  headline queries over the generated tables PUT during set-up;
- ``dialect``: stateless statements of the dialect probe corpora over
  the probe fixture tables;
- ``dml``: multi-statement mutation flows with per-flow table names.

Every answer is checked: the first answer of each ticket against
DuckDB running the same SQL over the same data, every later answer of
the ticket against the first by content hash, and after the loop the
end state of each DML flow against DuckDB's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.flight as flight

from perfbench import common, datagen

CLASSES = ("olap", "dialect", "dml")
SCALE = 0.01
SETUP_REPS = 7
CALL_TIMEOUT_S = 60  # no ticket here takes more than a few seconds
INPUTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs")

# the dialect probe fixtures (tools/dialect_probe.py build_fixtures)
FIXTURE_T = pa.table({
    "id": [1, 2, 3],
    "g": ["a", "b", "b"],
    "v": [10.5, 20.0, 30.25],
    "arr": [[1, 2], [3], [4, 5, 6]],
    "s": ["x y", "z", "w w w"],
    "j": [
        '{"a": {"b": 5}, "tag": "x"}',
        '{"a": {"b": 7}, "tag": "y"}',
        '{"a": {"b": 9}, "tag": "z"}',
    ],
})
FIXTURE_DST = "CREATE TABLE dst (id INTEGER, g VARCHAR)"


def load_inputs() -> dict[str, list[dict]]:
    out = {}
    for cls in CLASSES:
        with open(os.path.join(INPUTS, f"{cls}.json")) as f:
            out[cls] = json.load(f)
    return out


# -- server process ------------------------------------------------------
class ServerProc:
    """The Spark + Flight server process, driven over a pipe."""

    def __init__(self, work: str, trace: bool):
        self.log = open(os.path.join(work, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join("perfbench", "server.py"),
             "--work", work, "--cpus", str(common.CPUS), "--trace", str(int(trace))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=common.child_env(work),
        )
        self.ready: dict = {}

    def wait_ready(self) -> None:
        if not self.ready:
            self.ready = self._read()

    def _read(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                return json.loads(line[2:])
        raise RuntimeError(f"server process ended (code {self.proc.wait()})")

    def call(self, cmd: str, **kw) -> dict:
        self.wait_ready()
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("exit")
                self.proc.wait(timeout=60)
            except (OSError, RuntimeError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.log.close()


class Conn:
    """One client connection to one server; numbers every call the
    way the server numbers its handler invocations."""

    def __init__(self, port: int, ns: str, idx: int):
        self.client = flight.connect(f"grpc://127.0.0.1:{port}")
        self.opts = flight.FlightCallOptions(timeout=CALL_TIMEOUT_S)
        self.prefix = f"{ns}:{idx}"
        self.seq = 0

    def _rid(self) -> str:
        rid = f"{self.prefix}:{self.seq}"
        self.seq += 1
        return rid

    def get(self, sql: str) -> tuple[str, pa.Table]:
        rid = self._rid()
        return rid, self.client.do_get(flight.Ticket(sql.encode()), self.opts).read_all()

    def put(self, name: str, table: pa.Table) -> str:
        rid = self._rid()
        desc = flight.FlightDescriptor.for_command(name.encode())
        writer, _ = self.client.do_put(desc, table.schema, self.opts)
        for batch in table.to_batches(max_chunksize=65536):
            writer.write_batch(batch)
        writer.close()
        return rid

    def action(self, kind: str, body: bytes) -> str:
        rid = self._rid()
        list(self.client.do_action(flight.Action(kind, body), self.opts))
        return rid

    def close(self) -> None:
        self.client.close()


def set_up(server: ServerProc, ns: str, tables: dict[str, pa.Table]) -> list[Conn]:
    """Start both servers, PUT the generated tables and the probe fixtures
    to each, register the exchanger."""
    import cloudpickle

    from mallard_spark.exchange import AddProcessedExchanger

    ports = server.call("start", ns=ns)["ports"]
    conns = [Conn(p, ns, i) for i, p in enumerate(ports)]
    for c in conns:
        for name, table in tables.items():
            c.put(name, table)
        c.put("t", FIXTURE_T)
        c.get(FIXTURE_DST)
        c.action("add_exchange", cloudpickle.dumps(AddProcessedExchanger))
    return conns


# -- DuckDB references ------------------------------------------------------
def duck_connection(tables: dict[str, pa.Table]):
    import duckdb

    con = duckdb.connect()
    for name, table in {**tables, "t": FIXTURE_T}.items():
        con.register(f"_arrow_{name}", table)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM _arrow_{name}")
        con.unregister(f"_arrow_{name}")
    con.execute(FIXTURE_DST)
    return con


def duck_answer(con, sql: str) -> pa.Table:
    return con.execute(sql).arrow()


def duck_flow(sql: str, tables: list[str]):
    """(answer of the last statement, {table: end-state table})."""
    import duckdb

    con = duckdb.connect()
    con.execute(sql)
    from mallard_spark.engine import MallardEngine

    last = [s for s in MallardEngine.split_statements(sql) if s.strip()][-1]
    answer = None
    if last.lstrip().upper().startswith(("SELECT", "WITH")):
        answer = con.execute(last).arrow()
    return answer, {t: con.execute(f"SELECT * FROM {t}").arrow() for t in tables}


def check_answer(cls: str, got: pa.Table, want: pa.Table) -> str | None:
    """None when right, else the difference. ``olap`` answers must be
    exact. Dialect and DML answers are right when exact or when equal
    under the dialect probe's normalization (exact also covers a
    DuckDB HUGEINT, which Arrow carries as DECIMAL(38,0), against the
    engine's integer)."""
    exact = common.exact_diff(got, want)
    if cls == "olap" or exact is None:
        return exact
    return common.probe_diff(got, want)


# -- the closed loop ----------------------------------------------------------
class Recorder:
    def __init__(self):
        self.lock = threading.Lock()
        self.samples: list[dict] = []
        self.first: dict[str, pa.Table] = {}
        self.first_hash: dict[str, int] = {}
        self.mismatch: dict[str, str] = {}
        self.failed: dict[str, str] = {}
        self.flows_run: set[tuple[int, str]] = set()

    def record(self, sample: dict, table: pa.Table | None) -> None:
        key = f"{sample['cls']}:{sample['name']}"
        h = common.table_digest_fast(table) if table is not None else None
        with self.lock:
            self.samples.append(sample)
            if table is None:
                self.failed[key] = sample.get("error", "")
                return
            if sample["cls"] == "dml":
                self.flows_run.add((sample["client"], sample["name"]))
            if key not in self.first:
                self.first[key], self.first_hash[key] = table, h
            elif h != self.first_hash[key]:
                self.mismatch[key] = "answer differs from the first answer of this ticket"


def request(cid: int, conn: Conn, cls: str, item: dict, rec: Recorder) -> None:
    """One closed-loop request; latency runs from the send."""
    sample = {"cls": cls, "name": item["name"], "client": cid}
    t0 = time.perf_counter()
    try:
        rid, table = conn.get(item["sql"])
    except Exception as e:  # noqa: BLE001 - a failed request is a sample, not a crash
        sample.update(error=f"{type(e).__name__}: {str(e)[:200]}", t0=t0,
                      t1=time.perf_counter())
        rec.record(sample, None)
        return
    t1 = time.perf_counter()
    sample.update(rid=rid, t0=t0, t1=t1, ms=(t1 - t0) * 1e3,
                  bytes_in=len(item["sql"]), bytes_out=table.nbytes, rows=table.num_rows)
    rec.record(sample, table)


def round_tickets(inputs: dict) -> list[tuple[str, dict]]:
    """One round: every frozen ticket of every class once."""
    return [(cls, x) for cls in CLASSES for x in inputs[cls]]


def client_lists(seed: int, tickets: list) -> list[list]:
    """A seeded order of the round, dealt alternately to the clients."""
    order = np.random.default_rng(seed).permutation(len(tickets))
    return [[tickets[i] for i in order[c::2]] for c in range(2)]


def client_round(cid: int, conn: Conn, tickets: list, rec: Recorder) -> None:
    for cls, item in tickets:
        request(cid, conn, cls, item, rec)


def run_clients(conns: list[Conn], lists: list[list], seconds: float | None,
                rec: Recorder) -> float:
    """Whole rounds, both clients together: one when ``seconds`` is
    None, else rounds until ``seconds`` have passed. A round ends when
    both clients have sent their share, so both always send the same
    number of rounds; if each decided alone, a client could start a
    round the other does not, and run it without contention."""
    t0 = time.perf_counter()
    while True:
        threads = [threading.Thread(target=client_round, args=(i, conns[i], lists[i], rec))
                   for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if seconds is None or time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


# -- verification -------------------------------------------------------------
def verify(rec: Recorder, con, inputs: dict, conns: list[Conn]) -> tuple[dict[str, str], int]:
    """(wrong answers by ticket, number of DML end states checked)."""
    wrong = dict(rec.mismatch)
    flows = {x["name"]: x for x in inputs["dml"]}
    duck = {name: duck_flow(f["sql"], f["tables"])
            for name in {k.split(":", 1)[1] for k in rec.first if k.startswith("dml:")}
            | {n for _, n in rec.flows_run}
            for f in [flows[name]]}
    sql_of = {f"{c}:{x['name']}": x["sql"] for c in ("olap", "dialect") for x in inputs[c]}
    for key, table in rec.first.items():
        cls, name = key.split(":", 1)
        if cls == "dml":
            want = duck[name][0]
            diff = None if want is None else check_answer(cls, table, want)
        else:
            diff = check_answer(cls, table, duck_answer(con, sql_of[key]))
        if diff:
            wrong[key] = diff
    checked = 0
    for cid, name in sorted(rec.flows_run):
        for t, want in duck[name][1].items():
            _, got = conns[cid].get(f"SELECT * FROM {t}")
            checked += 1
            diff = check_answer("dml", got, want)
            if diff:
                wrong[f"state:{name}:{t}@{cid}"] = diff
    return wrong, checked


# -- screening (perfbench/freeze.py --screen) -------------------------------------
def _first_line(e: Exception) -> str:
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:160]}"


def screen_one(conn: Conn, con, cls: str, item: dict) -> tuple[str, str] | None:
    """None when the engine answers ``item`` right, else (verdict,
    reason). Verdicts: ``duckdb_rejects`` (no reference answer),
    ``engine_refuses`` (the engine names the construct it does not
    support) and ``known_failure`` (any other error or a wrong answer:
    a defect of the engine)."""
    try:
        if cls == "dml":
            want, state = duck_flow(item["sql"], item["tables"])
        else:
            want = duck_answer(con, item["sql"])
    except Exception as e:  # noqa: BLE001 - screening records every failure
        return "duckdb_rejects", _first_line(e)
    try:
        # a flow runs twice: the timed loop repeats it over its own tables
        for _ in range(2 if cls == "dml" else 1):
            _, got = conn.get(item["sql"])
        reason = None if want is None else check_answer(cls, got, want)
        if cls == "dml":
            for t, w in state.items():
                reason = reason or check_answer(cls, conn.get(f"SELECT * FROM {t}")[1], w)
    except pa.ArrowNotImplementedError as e:
        return "engine_refuses", _first_line(e)
    except Exception as e:  # noqa: BLE001 - screening records every failure
        return "known_failure", _first_line(e)
    return None if reason is None else ("known_failure", reason[:240])


def screen(inputs_dir: str, per_round: dict[str, int]) -> int:
    """Run every candidate ticket once through a live server against
    DuckDB. Keep the ones answered right, record every other with its
    verdict, and freeze ``per_round[cls]`` evenly spaced kept tickets
    of each class (all when absent) as the workload."""
    work = common.fresh_work_dir()
    tables = datagen.generate(0, SCALE)
    inputs = load_inputs()
    con = duck_connection(tables)
    server = ServerProc(work, trace=False)
    dropped: list[dict] = []
    try:
        conn = set_up(server, "screen", tables)[0]
        for cls in CLASSES:
            kept = []
            for item in inputs[cls]:
                verdict = screen_one(conn, con, cls, item)
                if verdict is None:
                    kept.append(item)
                else:
                    dropped.append({"class": cls, "name": item["name"],
                                    "verdict": verdict[0], "reason": verdict[1]})
            k = per_round.get(cls, len(kept))
            kept = [kept[int(i * len(kept) / k)] for i in range(min(k, len(kept)))]
            with open(os.path.join(inputs_dir, f"{cls}.json"), "w") as f:
                json.dump(kept, f, indent=1, sort_keys=True)
                f.write("\n")
            print(cls, "kept", len(kept), flush=True)
        with open(os.path.join(inputs_dir, "screened_out.json"), "w") as f:
            json.dump(dropped, f, indent=1, sort_keys=True)
            f.write("\n")
        print("dropped", len(dropped))
    finally:
        server.close()
    return 0


# -- the workload -----------------------------------------------------------------
def run(seed: int, seconds: int, trace: bool, work: str) -> dict:
    marks = {"start": time.perf_counter()}
    server = ServerProc(work, trace)  # the JVM boots while the inputs are made
    inputs = load_inputs()
    tables = datagen.generate(seed, SCALE)
    con = duck_connection(tables)
    server.wait_ready()
    marks["server"] = time.perf_counter()
    out: dict = {"spark_start_s": server.ready["spark_start_s"],
                 "arrow_bytes_put": datagen.arrow_bytes(tables)}
    try:
        # the median of SETUP_REPS set-ups on fresh servers; a traced
        # run needs only one
        setup_s = []
        for rep in range(1 if trace else SETUP_REPS):
            if rep:
                for c in conns:
                    c.close()
                server.call("stop")
            t0 = time.perf_counter()
            conns = set_up(server, f"r{rep}", tables)
            setup_s.append(time.perf_counter() - t0)
        out["setup_reps_s"] = setup_s
        marks["setup"] = time.perf_counter()
        lists = client_lists(seed, round_tickets(inputs))
        # untimed warm-up: every olap ticket and a quarter of the rest
        warm = [[t for i, t in enumerate(tl) if t[0] == "olap" or i % 4 == 0]
                for tl in lists]
        run_clients(conns, warm, None, Recorder())
        marks["warm"] = time.perf_counter()
        rec = Recorder()
        out["loop_s"] = run_clients(conns, lists, None if trace else seconds, rec)
        marks["loop"] = time.perf_counter()
        wrong, out["state_checks"] = verify(rec, con, inputs, conns)
        marks["verify"] = time.perf_counter()
        out.update(rec=rec, wrong=wrong, failed=dict(rec.failed))
        out["peak_rss_mb"] = common.driver_peak_rss_mb(server.ready["pid"])
        if trace:
            out["server_trace"] = server.call("trace")
        for c in conns:
            c.close()
    finally:
        server.close()
    marks["close"] = time.perf_counter()
    out["marks"] = {k: v - marks["start"] for k, v in marks.items()}
    return out


def compat_sweep(out_path: str) -> int:
    """All 25 headline oracles through a server, exact against DuckDB,
    each result recorded by name (``perfbench/freeze.py --compat``)."""
    work = common.fresh_work_dir()
    tables = datagen.generate(0, SCALE)
    con = duck_connection(tables)
    with open(os.path.join(INPUTS, "headline.json")) as f:
        headline = json.load(f)
    server, conn, result = None, None, {}
    try:
        for q in headline:
            if server is None:
                server = ServerProc(work, trace=False)
                conn = set_up(server, "compat", tables)[0]
            t0 = time.perf_counter()
            try:
                _, got = conn.get(q["oracle"])
                diff = common.exact_diff(got, duck_answer(con, q["oracle"]))
                verdict = "ok" if diff is None else f"wrong: {diff[:160]}"
            except flight.FlightTimedOutError:
                # the server is still busy with it: replace the server so
                # the next oracle runs alone
                verdict = f"timeout after {CALL_TIMEOUT_S} s"
                server.proc.kill()
                server.close()
                server = None
            except Exception as e:  # noqa: BLE001 - the sweep records every failure by name
                verdict = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
            result[q["name"]] = {"result": verdict, "seconds": round(time.perf_counter() - t0, 2)}
            print(q["name"], result[q["name"]], flush=True)
    finally:
        if server is not None:
            server.close()
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def per_class_latency(samples: list[dict]) -> dict[str, dict]:
    """Median, p90 and sample counts of the answered requests, by class."""
    return {cls: common.latency_summary([s["ms"] for s in samples
                                         if s["cls"] == cls and "ms" in s])
            for cls in CLASSES}


def per_request_layers(out: dict) -> list[dict]:
    """Join client samples with server spans and event-log jobs."""
    from perfbench import trace as tr

    st = out["server_trace"]
    selfs = tr.self_times(st["spans"])
    handler = defaultdict(float)
    for s in st["spans"]:
        if s["name"] == "flight" and s["parent"] is None:
            handler[s["rid"]] += s["end"] - s["start"]
    spark = out.get("spark_by_rid", {})
    rows = []
    for s in out["rec"].samples:
        if "rid" not in s:
            continue
        rid = s["rid"]
        wall = s["t1"] - s["t0"]
        layers = {k: v for k, v in selfs.get(rid, {}).items()}
        layers["client"] = wall - handler.get(rid, 0.0)
        counts = dict(st["counts"].get(rid, {}))
        counts.update(spark.get(rid, {}))
        rows.append({"cls": s["cls"], "name": s["name"], "rid": rid, "wall_s": wall,
                     "self_s": layers, "counts": counts,
                     "bytes_in": s["bytes_in"], "bytes_out": s["bytes_out"],
                     "rows": s["rows"], "handler_s": handler.get(rid, 0.0)})
    return rows
