"""queries: every ``__spark_entry__.queries()`` entry, once each, in
declared order, in a fresh driver JVM, over seeded tables shaped like
scale factor 0.1.

One operation is one query, timed as ``.collect()`` of its DataFrame:
the rows are what the oracle gate checks, and unlike ``.count()`` the
collect cannot let the optimizer prune projected columns (a UDF column
that a count would skip). Rows are then compared with the DuckDB oracle
(``oracle_sql()``) the way tools/check_oracle.py does.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time

import duckdb

import __spark_entry__ as entry
from perfbench.probes import Window, pct, session_layers
from tools.check_oracle import TABLES, rowset


def _oracle_mismatches(data: str, results: dict[str, tuple[list, list]]) -> list[str]:
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        oracles = entry.oracle_sql()
        bad = []
        for name, (cols, rows) in results.items():
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            if sorted(cols) != sorted(ocols) or rowset(cols, rows) != rowset(ocols, res.fetchall()):
                bad.append(name)
        return bad
    finally:
        con.close()


def run(ctx) -> dict:
    data = ctx.path("data")
    t_gen = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "datagen.py"), data, str(ctx.seed)],
        check=True,
    )
    t_gen = time.perf_counter() - t_gen
    _, setups, cold = ctx.setups(lambda spark, i: None)
    spark = ctx.spark

    walls: dict[str, float] = {}
    results: dict[str, tuple[list, list]] = {}
    failed = 0
    win = Window(spark)
    for name, fn in entry.queries().items():
        t0 = time.perf_counter()
        try:
            if ctx.tracer is not None:
                with ctx.tracer.span(f"query.{name}"):
                    df = fn(spark, data)
                    rows = df.collect()
            else:
                df = fn(spark, data)
                rows = df.collect()
        except Exception as e:  # a failed query is counted, the suite goes on
            print(f"query {name} failed: {e!r}")
            failed += 1
            continue
        walls[name] = time.perf_counter() - t0
        results[name] = (df.columns, [tuple(r) for r in rows])
    w = win.close()

    t_check = time.perf_counter()
    mismatched = _oracle_mismatches(data, results)
    t_check = time.perf_counter() - t_check
    times = list(walls.values())
    cpu = w["cpu_user_s"] + w["cpu_sys_s"]
    e2e = {
        "setup_s": statistics.median(setups),
        "first_op_s": next(iter(walls.values())),
        "op_p50_s": pct(times, 50),
        "op_p90_s": pct(times, 90),
        "op_mean_s": statistics.fmean(times),
        "cpu_s_per_op": cpu / len(times),
    }
    detail = {
        "setup_s_each": [round(x, 3) for x in setups],
        "queries": len(walls),
        "datagen_s": t_gen,
        "suite_s": sum(times),
        "suite_geomean_s": math.exp(statistics.fmean(math.log(t) for t in times)),
        "slowest": max(walls, key=walls.get),
        "oracle_matched": len(results) - len(mismatched),
        "oracle_mismatched": mismatched,
        "oracle_check_s": t_check,
        "steal_s": w["steal_s"],
        "cpu_sys_s": w["cpu_sys_s"],
    }
    out = {
        "correct": not mismatched and failed == 0,
        "attempted": len(entry.queries()), "failed": failed + len(mismatched),
        "e2e": e2e, "detail": detail,
    }
    if ctx.tracer is not None:
        layers = session_layers(w, cold)
        layers.update({f"query.{n}_s": t for n, t in walls.items()})
        out["layers"] = layers
        out["table"] = ctx.tracer.table(())
    return out
