"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wire_query --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``wire_query`` (DuckDB-SQL
tickets over Arrow Flight, two clients, two servers, one SparkSession)
and ``registry_batch`` (13 headline registry builders, in-process).
``--trace 0`` measures and prints the end-to-end metrics; ``--trace 1``
makes two separate traced runs and prints the per-layer metrics. Every
answer is checked; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``, and the
full record (every sample, wrong answers by name, the control probes)
is written to ``.perfbench_work/result.json``. The exit code is 1 when
any answer is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict

WORKLOADS = ("wire_query", "registry_batch")
MIN_BEYOND_P90 = 10  # samples a p90 needs beyond it to count as resolved


def _mean(rows: list[dict], fn) -> float:
    return sum(fn(r) for r in rows) / len(rows) if rows else 0.0


def layer_metrics(rows: list[dict], group_key: str,
                  orphan_share: float) -> tuple[dict, dict, float]:
    """(per-layer metrics over all ops, per-group breakdown, the worst
    unaccounted share of wall time over groups)."""
    from perfbench.trace import SELF_LAYERS

    def block(rs: list[dict]) -> dict:
        m = {f"{layer}.self_ms": _mean(rs, lambda r, L=layer: r["self_s"].get(L, 0.0) * 1e3)
             for layer in SELF_LAYERS}
        c = lambda key: _mean(rs, lambda r: r["counts"].get(key, 0.0))  # noqa: E731
        sql_calls = sum(r["counts"].get("spark_sql_calls", 0) for r in rs)
        variants_calls = sum(r["counts"].get("dialect_variant_calls", 0) for r in rs)
        m.update({
            "trace.wall_ms": _mean(rs, lambda r: r["wall_s"] * 1e3),
            # time inside no wrapped layer: the client and the wire
            # outside the handler, the handler outside the engine calls
            "trace.unattributed_ms": _mean(
                rs, lambda r: (r["self_s"].get("client", 0.0)
                               + r["self_s"].get("flight", 0.0)) * 1e3),
            "flight.handler_ms": _mean(rs, lambda r: r.get("handler_s", 0.0) * 1e3),
            "flight.bytes_in": _mean(rs, lambda r: r.get("bytes_in", 0)),
            "flight.bytes_out": _mean(rs, lambda r: r.get("bytes_out", 0)),
            "route.statements": c("statements"),
            "dialect.calls": c("dialect_calls"),
            "dialect.variants_per_call": (
                sum(r["counts"].get("dialect_variants", 0) for r in rs) / variants_calls
                if variants_calls else 0.0),
            "sql.spark_sql_calls": c("spark_sql_calls"),
            "sql.parse_failures": (
                sum(r["counts"].get("spark_sql_failures", 0) for r in rs) / sql_calls
                if sql_calls else 0.0),
            "dml.checkpoints": c("checkpoints"),
            "py4j.calls": c("py4j_calls"),
            "spark.jobs": c("jobs"),
            "spark.stages": c("stages"),
            "spark.tasks": c("tasks"),
            "spark.task_run_ms": c("task_run_ms"),
            "spark.task_cpu_ms": c("task_cpu_ms"),
            "spark.gc_ms": c("gc_ms"),
            "spark.scheduler_delay_ms": c("scheduler_delay_ms"),
            "spark.shuffle_write_bytes": c("shuffle_write_bytes"),
            "spark.shuffle_fetch_wait_ms": c("shuffle_fetch_wait_ms"),
            "spark.python_bytes_sent": c("python_bytes_sent"),
            "spark.python_run_ms": c("python_run_ms"),
            "spark.job_wall_ms": c("job_wall_ms"),
            "spark.driver_outside_jobs_ms": _mean(
                rs, lambda r: max(0.0, r["wall_s"] * 1e3 - r["counts"].get("job_wall_ms", 0.0))),
        })
        return m

    groups = defaultdict(list)
    for r in rows:
        groups[r[group_key]].append(r)
    # share of wall time the self times cannot account for: negative
    # self times and double-counted overlaps per group, plus work no
    # request is charged for
    gap = max(sum(r["err_s"] for r in rs) / sum(r["wall_s"] for r in rs)
              for rs in groups.values()) + orphan_share
    return block(rows), {g: block(rs) | {"n": len(rs)} for g, rs in groups.items()}, gap


DRIVER_COUNTS = ("py4j_calls", "spark_sql_calls")
SPARK_COUNTS = ("jobs", "stages", "tasks")


def count_proxies(rows: list[dict]) -> dict[str, dict[str, float]]:
    return {f"{r['cls']}:{r['name']}": {k: r["counts"].get(k, 0.0)
                                        for k in DRIVER_COUNTS + SPARK_COUNTS}
            for r in rows}


def repeat_share(a: dict, b: dict, keys: tuple[str, ...]) -> tuple[float, dict]:
    """(share of operations whose ``keys`` counts are equal in the two
    traced runs, {operation: [run 1, run 2]} for the others)."""
    differ = {k: [{c: a.get(k, {}).get(c) for c in keys}, {c: v[c] for c in keys}]
              for k, v in b.items()
              if any(a.get(k, {}).get(c) != v[c] for c in keys)}
    return 1.0 - len(differ) / max(1, len(b)), differ


def registry_rows(out: dict) -> list[dict]:
    from perfbench.trace import self_times

    st = out["server_trace"]
    selfs = self_times(st["spans"])
    spark = out["spark_by_rid"]
    rows = []
    for s in out["samples"]:
        counts = dict(st["counts"].get(s["rid"], {}))
        counts.update(spark.get(s["rid"], {}))
        rows.append({"cls": s["cls"], "name": s["name"], "rid": s["rid"],
                     "wall_s": s["t1"] - s["t0"], "self_s": dict(selfs.get(s["rid"], {})),
                     "counts": counts})
    return rows


def traced_rows(workload: str, out: dict, work: str) -> tuple[list[dict], float]:
    """(per-operation rows of one traced run, share of its wall time
    spent in spans no request is charged for)."""
    from perfbench import trace

    out["spark_by_rid"] = trace.parse_event_log(os.path.join(work, "eventlog"))
    if workload == "wire_query":
        from perfbench import wire_query

        samples = [s for s in out["rec"].samples if "rid" in s]
        rows = wire_query.per_request_layers(out)
    else:
        samples = out["samples"]
        rows = registry_rows(out)
    window = (min(s["t0"] for s in samples), max(s["t1"] for s in samples))
    errs, orphan_s = trace.attribution_errors(out["server_trace"]["spans"], window)
    for r in rows:
        r["err_s"] = errs.get(r["rid"], 0.0)
    return rows, orphan_s / (window[1] - window[0])


def summarize_timed(workload: str, out: dict) -> tuple[dict, dict, int, int]:
    """(end-to-end metrics, report extras, attempted, failed)."""
    from perfbench import common

    wrong = out["wrong"]
    if workload == "wire_query":
        from perfbench import wire_query

        samples = out["rec"].samples
        bad = sum(1 for x in samples if "ms" not in x or f"{x['cls']}:{x['name']}" in wrong)
        bad += sum(1 for k in wrong if k.startswith("state:"))
        attempted = len(samples) + out["state_checks"]
        all_ms = [x["ms"] for x in samples if "ms" in x]
        ops_per_s = len(all_ms) / out["loop_s"]
        extra = {f"{c}_{k}": v for c, d in wire_query.per_class_latency(samples).items()
                 for k, v in d.items()} | {"wire_qps": ops_per_s}
    else:
        from perfbench import registry_batch

        samples = out["samples"]
        all_ms = [x["ms"] for x in samples]
        attempted = len(samples) + len(out["failed"]) + len(out["checked"])
        bad = len(out["failed"]) + len(wrong)
        ops_per_s = len(all_ms) / (sum(all_ms) / 1e3)
        passes = registry_batch.pass_times(out)
        extra = {"registry_sql_s": statistics.median(passes["sql"]),
                 "registry_ops_s": statistics.median(passes["ops"]),
                 "passes": out["passes"]}
    lat = common.latency_summary(all_ms)
    metrics = {
        "setup_s": statistics.median(out["setup_reps_s"]),
        "p50_ms": lat["p50_ms"],
        "ops_per_s": ops_per_s,
    }
    # reported, not bounded: the JVM part follows G1's heap expansion,
    # which depends on GC timing, and spread 0.1-0.2 across seeds
    extra |= {f"peak_rss_{k}_mb": v for k, v in out["peak_rss_mb"].items()}
    # reported, not bounded: too few samples lie beyond it on
    # registry_batch, and it spreads too widely across seeds on wire_query
    extra |= {"samples": lat["n"], "p90_ms": lat["p90_ms"], "beyond_p90": lat["beyond_p90"],
              "fail_ratio": bad / max(1, attempted)}
    return metrics, extra, attempted, bad


def summarize_traced(workload: str, outs: list[dict],
                     works: list[str]) -> tuple[dict, dict, int, int]:
    """Per-layer metrics over two separate traced runs, and whether
    their count proxies repeat exactly."""
    rows, orphan = [], 0.0
    for out, work in zip(outs, works):
        r, o = traced_rows(workload, out, work)
        rows.append(r)
        orphan = max(orphan, o)
    group_key = "cls" if workload == "wire_query" else "name"
    metrics, groups, gap = layer_metrics(rows[0] + rows[1], group_key, orphan)
    attempted = bad = 0
    for out in outs:
        if workload == "wire_query":
            attempted += len(out["rec"].samples) + out["state_checks"]
            bad += sum(1 for x in out["rec"].samples if "ms" not in x)
        else:
            attempted += len(out["samples"]) + len(out["failed"]) + len(out["checked"])
            bad += len(out["failed"])
        bad += len(out["wrong"])
    proxies = [count_proxies(r) for r in rows]
    metrics["trace.selftime_gap"] = gap
    metrics["trace.counts_repeat"], driver_differ = repeat_share(*proxies, DRIVER_COUNTS)
    metrics["trace.jobs_repeat"], jobs_differ = repeat_share(*proxies, SPARK_COUNTS)
    extra = {"groups": groups, "count_proxies": proxies[1],
             "driver_counts_differ": driver_differ, "spark_counts_differ": jobs_differ}
    return metrics, extra, attempted, bad


UNITS = {"setup_s": "s", "p50_ms": "ms", "ops_per_s": "1/s"}
RATIOS = ("trace.selftime_gap", "sql.parse_failures", "trace.counts_repeat",
          "trace.jobs_repeat", "dialect.variants_per_call")


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name in RATIOS:
        return "ratio"
    return "count"


def unresolved_tails(extra: dict) -> list[str]:
    """The p90s with fewer than MIN_BEYOND_P90 samples beyond them."""
    out = []
    for key, n in extra.items():
        if key.endswith("beyond_p90") and isinstance(n, int) and n < MIN_BEYOND_P90:
            prefix = key[: -len("beyond_p90")]
            out.append(f"{prefix}p90_ms unresolved: {n} samples beyond it, "
                       f"{MIN_BEYOND_P90} needed")
    return out


def measure(args) -> tuple:
    """Run the workload; write the full record to ``result.json``."""
    from perfbench import common

    work = common.fresh_work_dir()
    t0 = time.perf_counter()
    probe_pre = common.control_probe()
    if args.workload == "wire_query":
        from perfbench import wire_query as mod
    else:
        from perfbench import registry_batch as mod
    if args.trace:
        # two separate traced runs, so that their count proxies can be
        # compared; the layer metrics pool both
        works = [common.fresh_work_dir(f"trace{i}") for i in range(2)]
        outs = [mod.run(args.seed, args.seconds, True, w) for w in works]
        out = {k: {f"run{i + 1}:{key}": v for i, o in enumerate(outs) for key, v in o[k].items()}
               for k in ("wrong", "failed")}
        out["setup_reps_s"] = [x for o in outs for x in o["setup_reps_s"]]
        out["marks"] = [o["marks"] for o in outs]
        probe_post = common.control_probe()
        metrics, extra, attempted, bad = summarize_traced(args.workload, outs, works)
    else:
        out = mod.run(args.seed, args.seconds, False, work)
        probe_post = common.control_probe()
        metrics, extra, attempted, bad = summarize_timed(args.workload, out)
    phase = "slow" if "slow" in (probe_pre["phase"], probe_post["phase"]) else "calm"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_wall_s": time.perf_counter() - t0,
        "probe_pre": probe_pre, "probe_post": probe_post, "phase": phase,
        "metrics": metrics, "extra": extra,
        "wrong": out["wrong"], "failed_requests": out["failed"],
        "setup_reps_s": out["setup_reps_s"],
        "spark_start_s": out.get("spark_start_s"),
        "marks_s": out.get("marks"),
        "samples": [{k: x.get(k) for k in ("cls", "name", "client", "ms", "error")}
                    for x in (out["rec"].samples if "rec" in out else out.get("samples", []))],
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return out, metrics, extra, attempted, bad, phase, (probe_pre, probe_post)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("mallard_spark", "__init__.py")):
        print("perfbench: run from the repository root (mallard_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    from perfbench import common

    # every process a run starts (the server process, each JVM, Python
    # workers) is stopped and waited for before the result is printed,
    # also when the run fails
    common.become_subreaper()
    try:
        out, metrics, extra, attempted, bad, phase, probes = measure(args)
    finally:
        common.stop_descendants()
    for name, value in metrics.items():
        print(f"{name:32s} {value:14.4f} {unit_of(name)}")
    for name, value in extra.items():
        if isinstance(value, (int, float)):
            print(f"  {name:30s} {value:14.4f}")
    for line in unresolved_tails(extra):
        print(line)
    for key, why in sorted(out["wrong"].items()):
        print(f"WRONG {key}: {why}")
    for key, why in sorted(out["failed"].items()):
        print(f"FAILED {key}: {why}")
    print(f"phase {phase} (control probe {probes[0]['probe_s']:.3f}s before, "
          f"{probes[1]['probe_s']:.3f}s after)")
    correct = not out["wrong"] and bad == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": bad,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
