"""Server process for the wire workloads.

Starts one SparkSession and, on request, two ``SparkFlightServer``
instances over it (the reference topology: two servers, one cluster).
It is driven over stdin/stdout with one JSON object per line:

    {"cmd": "start", "ns": "r0"}  -> {"ports": [p1, p2], "setup_s": ...}
    {"cmd": "stop"}               -> {"ok": true}
    {"cmd": "trace"}              -> {"spans": [...], "counts": {...}}
    {"cmd": "exit"}               -> {"ok": true}, then the process ends

With ``--trace 1`` every layer entry point is wrapped by
``perfbench.trace.Tracer``, every py4j round-trip is counted, each
Flight handler opens a request span whose id is ``<ns>:<server>:<seq>``
and sets ``spark.job.description`` to it, and Spark writes an event
log under the work directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time

REPLY = "@@"  # prefix that marks protocol lines on stdout


def reply(obj: dict) -> None:
    sys.stdout.write(REPLY + json.dumps(obj) + "\n")
    sys.stdout.flush()


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(work: str, cpus: int, trace: bool):
    from mallard_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=spark_conf(work, trace),
    )
    # local mode: workers import the package through PYTHONPATH, which
    # get_spark already exported; skip ship_package's zip into /tmp
    spark.sparkContext._mallard_shipped = True
    return spark


def install_request_spans(tracer, sc) -> None:
    """Wrap the four Flight verbs in request spans and tag jobs."""
    from mallard_spark.flight import SparkFlightServer

    for verb in ("do_get", "do_put", "do_exchange", "do_action"):
        orig = SparkFlightServer.__dict__[verb]

        def handler(self, *args, _orig=orig):
            with self._bench_lock:
                seq = self._bench_seq
                self._bench_seq += 1
            rid = f"{self._bench_prefix}:{seq}"
            sc.setLocalProperty("spark.job.description", rid)
            span = tracer.open("flight", rid=rid)
            try:
                return _orig(self, *args)
            finally:
                tracer.close(span)
                sc.setLocalProperty("spark.job.description", None)

        tracer._patch(SparkFlightServer, verb, handler)


class Servers:
    def __init__(self, spark):
        self.spark = spark
        self.running: list = []

    def start(self, ns: str) -> list[int]:
        from mallard_spark.engine import MallardEngine
        from mallard_spark.flight import SparkFlightServer, serve_in_background

        ports = []
        for i in range(2):
            eng = MallardEngine(self.spark, f"{ns}_s{i}")
            srv = SparkFlightServer("grpc://127.0.0.1:0", eng)
            # request ids "<ns>:<server>:<seq>", numbered like the client does
            srv._bench_prefix, srv._bench_seq, srv._bench_lock = f"{ns}:{i}", 0, threading.Lock()
            self.running.append((srv, serve_in_background(srv)))
            ports.append(srv.port)
        return ports

    def stop(self) -> None:
        for srv, thread in self.running:
            srv.shutdown()
            thread.join(timeout=10)
            for name in srv.engine.list_tables():
                try:
                    srv.engine.drop(name)
                except Exception:  # noqa: BLE001 - best-effort catalog cleanup
                    pass
        self.running.clear()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    spark = start_spark(args.work, args.cpus, bool(args.trace))
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install_layers()
        tracer.install_py4j()
        install_request_spans(tracer, spark.sparkContext)
    servers = Servers(spark)
    reply({"ready": True, "spark_start_s": time.perf_counter() - t0, "pid": os.getpid()})
    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg["cmd"]
        if cmd == "start":
            reply({"ports": servers.start(msg["ns"])})
        elif cmd == "stop":
            servers.stop()
            # collect the stopped servers' garbage now, so that the next
            # set-up does not pay for it
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            reply({"ok": True})
        elif cmd == "trace":
            reply(tracer.dump() if tracer else {"spans": [], "counts": {}})
        elif cmd == "exit":
            servers.stop()
            spark.stop()
            reply({"ok": True})
            return 0
    servers.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    raise SystemExit(main())
