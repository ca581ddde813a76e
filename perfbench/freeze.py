"""Snapshot the workload inputs into ``perfbench/inputs/``.

The timed workloads read only these frozen files, so a later change to
the registry or to ``tools/`` cannot silently change what is measured.
Run from the repository root:

    python3 perfbench/freeze.py            # extract candidates
    python3 perfbench/freeze.py --screen   # keep what the wire answers right
    python3 perfbench/freeze.py --compat   # headline oracles over the wire

Extraction takes the registry oracle SQL of the headline queries, the
statements of ``tools/dialect_probe.py`` ``CORPUS`` + ``WIRE_CORPUS``
and the flows of ``tools/dml_script_probe.py`` ``SCRIPTS``. Dialect
candidates are the stateless ``SELECT``/``WITH`` statements with a
value check (no ``-- novalue``) that read no catalog. DML flows get per-flow object names
(``<name>_<flow index>``) and an idempotent ``DROP ... IF EXISTS``
prefix, and each rewrite is proven against DuckDB: the renamed flow
must leave the same end state as the original.

Screening runs every candidate through a live server against DuckDB.
A candidate is dropped when DuckDB rejects it, when the engine refuses
it by name, or when the engine fails on it or answers it wrongly (a
known failure of the engine); every drop is recorded with its verdict
and reason in ``inputs/screened_out.json``. Of the rest, ``PER_ROUND``
evenly spaced tickets per class are frozen as the workload, so
``inputs/`` holds exactly what a round sends. The compatibility sweep
sends all 25 headline oracles through a server and records each
result by name in ``compat.json``; it is untimed and fixes nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
INPUTS = os.path.join(HERE, "inputs")

OLAP = [
    "q1_pricing_summary", "q3_shipping_priority", "q3_bucketed",
    "q5_local_supplier_volume", "q9_product_profit", "q18_large_volume_customer",
    "running_totals", "ev_hourly_agg", "ev_sessionize", "ev_asof_join",
    "ev_zscore_anomalies", "quantiles_by_flag",
]

# Tickets frozen per class (every olap ticket). Sending every screened
# dialect statement and DML flow once would make one round about 55 s
# on a 4-core host; the benchmark's budget (48 runs of the two
# workloads in 57 minutes, set-up included) leaves room for a round of
# about 20 s, so an evenly spaced subset of each corpus is frozen, and
# a round sends every frozen ticket once. 100 dialect statements give
# that class a p90 with 10 samples beyond it.
PER_ROUND = {"dialect": 100, "dml": 12}

_CREATE = re.compile(
    r"\bCREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP\w*\s+)?(TABLE|VIEW|SEQUENCE|TYPE|MACRO)\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?(\"[^\"]+\"|\w+)",
    re.I,
)
# catalog reads answer differently once the DML flows have made their
# tables, so they are not stateless
_CATALOG = re.compile(r"\b(duckdb_\w+|information_schema|pragma_\w+|sqlite_master)\b", re.I)
_RENAME_TO = re.compile(r"\bRENAME\s+TO\s+(\w+)", re.I)


def rename_flow(script: str, tag: str) -> tuple[str, list[tuple[str, str]], dict[str, str]]:
    """(renamed script, [(kind, new name)] in creation order, old->new)."""
    objs: list[tuple[str, str]] = []
    for kind, name in _CREATE.findall(script):
        objs.append((kind.upper(), name))
    for name in _RENAME_TO.findall(script):
        objs.append(("TABLE", name))
    mapping: dict[str, str] = {}
    for _, name in objs:
        bare = name.strip('"')
        mapping.setdefault(bare, f"{bare}_{tag}")

    def sub(part: str) -> str:
        for old, new in mapping.items():
            part = re.sub(rf"(?<![\w.]){re.escape(old)}\b", new, part)
            part = re.sub(rf"(?<=\.){re.escape(old)}\b(?=\s*\.)", new, part)
        return part

    def sub_quoted(part: str) -> str:
        # nextval('seq') names a sequence inside a string literal
        bare = part[1:-1]
        return f"'{mapping[bare]}'" if ("SEQUENCE", bare) in objs else part

    parts = re.split(r"('(?:[^']|'')*')", script)
    renamed = "".join(
        sub_quoted(p) if i % 2 else sub(p) for i, p in enumerate(parts)
    )
    created: list[tuple[str, str]] = []
    for kind, name in objs:
        new = mapping[name.strip('"')]
        new = f'"{new}"' if name.startswith('"') else new
        if (kind, new) not in created:
            created.append((kind, new))
    return renamed, created, mapping


def cleanup_prefix(created: list[tuple[str, str]]) -> str:
    order = {"VIEW": 0, "TABLE": 1, "MACRO": 2, "SEQUENCE": 3, "TYPE": 4}
    stmts = []
    tables = [n for k, n in created if k == "TABLE"]
    for kind, name in sorted(created, key=lambda kn: order[kn[0]]):
        if kind == "TABLE":
            continue
        if kind == "VIEW":
            stmts.append(f"DROP VIEW IF EXISTS {name}")
    # children (created later) before parents: foreign keys
    stmts += [f"DROP TABLE IF EXISTS {n}" for n in reversed(tables)]
    for kind, name in sorted(created, key=lambda kn: order[kn[0]]):
        if kind in ("MACRO", "SEQUENCE", "TYPE"):
            stmts.append(f"DROP {kind} IF EXISTS {name}")
    return ";\n".join(stmts)


def duck_state(con, table: str) -> list:
    """[sorted column names, sorted normalized rows] of one table."""
    from perfbench.common import probe_norm

    cur = con.execute(f"SELECT * FROM {table}")
    cols = sorted(d[0].lower() for d in cur.description)
    rows = sorted(repr(sorted(map(repr, map(probe_norm, r)))) for r in cur.fetchall())
    return [cols, rows]


def extract() -> dict:
    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    import duckdb

    import bench
    import dialect_probe
    import dml_script_probe
    from mallard_spark.registry import load_all

    specs = load_all()
    headline = []
    for name in bench.HEADLINE:
        spec = specs[name]
        family = "sql" if spec.fn.__module__.startswith("mallard_spark.plans") else "ops"
        headline.append({"name": name, "family": family, "oracle": spec.oracle})
    olap = [{"name": n, "sql": specs[n].oracle} for n in OLAP]

    dialect = []
    for corpus_name, corpus in (("CORPUS", dialect_probe.CORPUS),
                                ("WIRE_CORPUS", dialect_probe.WIRE_CORPUS)):
        for i, raw in enumerate(x.strip() for x in corpus.strip().splitlines()):
            if not raw or raw.startswith("--") or raw.endswith("-- novalue"):
                continue
            if not raw.upper().startswith(("SELECT", "WITH")) or _CATALOG.search(raw):
                continue
            dialect.append({"name": f"{corpus_name}:{i}", "sql": raw})

    dml, rejected = [], []
    for i, (name, script) in enumerate(dml_script_probe.SCRIPTS):
        script = script.strip()
        renamed, created, mapping = rename_flow(script, f"f{i}")
        tables = [n for k, n in created if k in ("TABLE", "VIEW")]
        try:
            a, b = duckdb.connect(), duckdb.connect()
            a.execute(script)
            b.execute(renamed)
            live = {r[0].lower() for r in b.execute(
                "SELECT table_name FROM information_schema.tables").fetchall()}
            tables = [t for t in tables if t.strip('"').lower() in live]
            inv = {v.lower(): k for k, v in mapping.items()}
            ok = all(
                duck_state(a, _q(inv[t.strip('"').lower()])) == duck_state(b, t)
                for t in tables
            )
        except Exception as e:  # noqa: BLE001 - any failure rejects the rewrite
            rejected.append({"name": name, "reason": f"rewrite: {type(e).__name__}: {e}"[:200]})
            continue
        if not ok:
            rejected.append({"name": name, "reason": "rewrite changes the end state"})
            continue
        prefix = cleanup_prefix(created)
        dml.append({
            "name": name,
            "sql": (prefix + ";\n" if prefix else "") + renamed,
            "tables": tables,
        })
    return {"olap": olap, "headline": headline, "dialect": dialect, "dml": dml,
            "rejected_rewrite": rejected}


def _q(name: str) -> str:
    return name if name.isidentifier() else f'"{name}"'


def write_json(name: str, obj) -> None:
    os.makedirs(INPUTS, exist_ok=True)
    with open(os.path.join(INPUTS, name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--screen", action="store_true")
    ap.add_argument("--compat", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(HERE))
    if args.compat:
        from perfbench.wire_query import compat_sweep

        return compat_sweep(os.path.join(HERE, "compat.json"))
    if not args.screen:
        got = extract()
        for key in ("olap", "headline", "dialect", "dml"):
            write_json(f"{key}.json", got[key])
        write_json("candidates_rejected.json", got["rejected_rewrite"])
        print({k: len(v) for k, v in got.items()})
        return 0
    from perfbench.wire_query import screen

    return screen(INPUTS, PER_ROUND)


if __name__ == "__main__":
    raise SystemExit(main())
