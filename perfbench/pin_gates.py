#!/usr/bin/env python3
"""Pin the gates_graph workload's expected results.

Runs every graph gate (g01-g14) at the benchmark's target SF through the
engine, evaluates the same gate's DuckDB oracle SQL over the same parquet
files, renders both results the way perfbench/src/Checks.scala does (columns
in name order, doubles at six decimals rounded half-even, rows sorted) and
writes the oracle's digest to perfbench/gate_digests.json. A gate whose
engine digest differs from its oracle digest is reported; its pinned digest
is still the oracle's, so the benchmark counts it as failed.

    python3 perfbench/pin_gates.py      # needs python3 with duckdb
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TARGET_SF = os.path.join(os.path.expanduser("~"), "testdata", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SIX = decimal.Decimal("0.000001")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        return format(decimal.Decimal(f if f != 0 else 0.0).quantize(
            SIX, rounding=decimal.ROUND_HALF_EVEN), "f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    import duckdb
    classes = build.build()
    work = os.path.join(build.build_dir(), "work", "pin-gates")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    engine_out = os.path.join(work, "engine.json")
    subprocess.run(run.java_command(classes, work, "perfbench.PinGates", [engine_out]),
                   check=True, stdout=sys.stderr)
    with open(engine_out) as fh:
        engine = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{TARGET_SF}/{t}.parquet'")
    pinned, mismatched = {}, []
    for name, e in sorted(engine.items()):
        res = con.execute(e["sql"])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        d = digest(cols, rows)
        pinned[name] = {"digest": d, "rows": len(rows)}
        ok = d == e["digest"] and len(rows) == e["rows"]
        if not ok:
            mismatched.append(name)
        print(f"{name:34s} rows={len(rows):7d} engine==oracle: {ok}")
    with open(os.path.join(run.HERE, "gate_digests.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    if mismatched:
        sys.exit(f"engine results differ from the oracle: {', '.join(mismatched)}")


if __name__ == "__main__":
    main()
