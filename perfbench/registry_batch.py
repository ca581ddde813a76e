"""``registry_batch``: in-process library use of the query registry.

Each pass builds and runs 13 of the 25 ``bench.py`` headline builders
(every other one in headline order: 6 ``plans`` and 7 operator
builders) into a noop sink, in a fixed order, with the scan cache at the program default
(off), so every pass reads parquet. No wire, no dialect. An untimed
first pass collects every result and compares it with the query's
registry oracle on DuckDB (``mallard_spark.testing.compare_frames``,
exact floats), which also warms the JVM before anything is timed.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from perfbench import common, datagen

SCALE = 0.01
SETUP_REPS = 5
INPUTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs")


def start_session(work: str, trace: bool):
    from perfbench.server import start_spark

    spark = start_spark(work, common.CPUS, trace)
    spark.range(1).collect()
    return spark


def run(seed: int, seconds: int, trace: bool, work: str) -> dict:
    os.environ.update(common.child_env(work))
    with open(os.path.join(INPUTS, "headline.json")) as f:
        headline = json.load(f)[0::2]
    marks = {"start": time.perf_counter()}
    tables = datagen.generate(seed, SCALE)
    sf_dir = datagen.write(tables, os.path.join(work, "data", "sf"))
    out: dict = {"sf_dir_bytes": sum(
        os.path.getsize(os.path.join(sf_dir, x)) for x in os.listdir(sf_dir))}

    from mallard_spark.registry import load_all
    from mallard_spark.testing import compare_frames, duck_connection

    # set-up: a fresh SparkContext (the JVM stays up after the first)
    # and the registry import, repeated; the median is reported. A
    # traced run needs only one
    spark, setup_s = None, []
    for _ in range(1 if trace else SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work, trace)
        specs = load_all()
        setup_s.append(time.perf_counter() - t0)
    out["setup_reps_s"] = setup_s
    marks["setup"] = time.perf_counter()

    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install_layers()
        tracer.install_py4j()
    sc = spark.sparkContext

    def span(name: str, rid: str | None = None):
        return tracer.span(name, rid) if tracer else contextlib.nullcontext()

    def one(name: str, rid: str, sink: bool):
        if tracer:
            sc.setLocalProperty("spark.job.description", rid)
        try:
            with span("client", rid):
                with span("build"):
                    df = specs[name].fn(spark, sf_dir)
                with span("sink"):
                    if sink:
                        df.write.format("noop").mode("overwrite").save()
                        return None
                    return df.toPandas()
        finally:
            if tracer:
                sc.setLocalProperty("spark.job.description", None)

    # untimed correctness pass against the frozen registry oracles; the
    # DuckDB answers are computed on a side thread meanwhile
    want: dict = {}

    def oracles() -> None:
        con = duck_connection(sf_dir)
        con.execute("SET threads = 2")
        for q in headline:
            want[q["name"]] = con.execute(q["oracle"]).df()
        con.close()

    side = threading.Thread(target=oracles)
    side.start()
    got = {q["name"]: one(q["name"], f"check:{q['name']}", sink=False) for q in headline}
    marks["check_spark"] = time.perf_counter()
    side.join()
    marks["check_duckdb"] = time.perf_counter()
    wrong = {}
    for q in headline:
        try:
            compare_frames(got[q["name"]], want[q["name"]], q["name"])
        except AssertionError as e:
            wrong[q["name"]] = str(e)[:240]
    del got, want
    out["checked"] = [q["name"] for q in headline]

    samples, failed = [], {}
    t_start = time.perf_counter()

    # one pass when traced (the check pass warmed up); when timed,
    # whole passes until ``seconds`` have passed
    p = 0
    while p == 0 or (not trace and time.perf_counter() - t_start < seconds):
        for q in headline:
            rid = f"p{p}:{q['name']}"
            t0 = time.perf_counter()
            try:
                one(q["name"], rid, sink=True)
            except Exception as e:  # noqa: BLE001 - a failed query is recorded, not fatal
                failed[q["name"]] = f"{type(e).__name__}: {str(e)[:200]}"
                continue
            t1 = time.perf_counter()
            samples.append({"pass": p, "cls": q["family"], "name": q["name"], "rid": rid,
                            "t0": t0, "t1": t1, "ms": (t1 - t0) * 1e3})
        p += 1
    out["loop_s"] = time.perf_counter() - t_start
    out.update(samples=samples, wrong=wrong, failed=failed, passes=p,
               peak_rss_mb=common.driver_peak_rss_mb(os.getpid()))
    if tracer:
        tracer.uninstall()
        out["server_trace"] = tracer.dump()
    marks["loop"] = time.perf_counter()
    spark.stop()
    marks["stop"] = time.perf_counter()
    out["marks"] = {k: v - marks["start"] for k, v in marks.items()}
    return out


def pass_times(out: dict) -> dict[str, list[float]]:
    """Per family, the summed builder time of each complete pass."""
    per: dict[str, dict[int, float]] = {"sql": {}, "ops": {}}
    for s in out["samples"]:
        per[s["cls"]][s["pass"]] = per[s["cls"]].get(s["pass"], 0.0) + s["ms"] / 1e3
    return {fam: [v for _, v in sorted(d.items())] for fam, d in per.items()}
