#!/usr/bin/env python3
"""Local mirror of the driver's differential gate at any SF.

Usage:
    python tools/oracle_gate.py [--sf /root/testdata/sf0.01] [name ...]

Runs each named query (default: all) through Spark AND its DuckDB
oracle over the same parquet, comparing row count, sorted column
names, and every value exactly — the same discipline as
tests/test_queries_oracle.py, but pointable at sf0.01 (the driver's
scale), where multiplicity bugs invisible at sf0.001 surface.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    import decimal

    if v is None or isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    return str(v)


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="bare SparkSession + __spark_entry__._tune() only — the "
        "driver-harness context (no engine session confs). The r2 "
        "TIMESTAMP_NTZ regression was visible ONLY in this mode.",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from wsprnet_scraper_spark.session import get_session

    queries = entrymod.queries()
    oracle = entrymod.oracle_sql()
    names = args.names or sorted(queries)

    if args.vanilla:
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("oracle-gate-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        # queries() wraps every call in _tune(); nothing else applied
    else:
        spark = get_session("oracle-gate")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.isdir(p):  # multi-file dataset (e.g. probe synth)
            p += "/*.parquet"
        elif not os.path.exists(p):
            # probe corpora are PARTIAL by design (only the tables the
            # probed queries read are grown) — skip the view; a query
            # needing it fails visibly at execution
            print(f"note: {t} absent at {args.sf}, view skipped")
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    import gc

    from wsprnet_scraper_spark.operators.stores import clear_store_cache
    from wsprnet_scraper_spark.plans.registry import (
        ORACLE_BOUND,
        clear_plan_cache,
    )

    failures = 0
    for name in names:
        if name not in queries:
            print(f"{name}: UNKNOWN")
            failures += 1
            continue
        # Per-query isolation: a ~300-query sweep in ONE default-heap
        # JVM accumulates JVM-side state until the heap tips (r5: OOM
        # at query ~261 in vanilla mode, reproducibly — the same
        # query alone passes; r4's 291 squeaked through). Four
        # leases to release, none of which changes any query's plan
        # or confs: the registry's prepared-plan cache pins every
        # prior DataFrame's JVM plan tree (and any localCheckpoint
        # RDDs in its lineage) via py4j refs; the standing-relation
        # store holds one DataFrame handle per relation (its parquet
        # stays, so the next reader re-opens it); CacheManager holds
        # the graph builders' persisted relations; gc.collect() runs the
        # py4j finalizers + lets ContextCleaner reap dead checkpoint
        # RDDs. A long-running SERVICE wants the plan cache — a
        # 296-query sweep wants the memory.
        clear_plan_cache()
        clear_store_cache()
        spark.catalog.clearCache()
        gc.collect()
        sdf = queries[name](spark, args.sf)
        scols = sorted(sdf.columns)
        srows = sorted(
            (tuple(_norm(r[c]) for c in scols) for r in sdf.collect()),
            key=lambda t: tuple(repr(x) for x in t),
        )
        if name not in oracle:
            print(f"{name}: rows-only ({len(srows)} rows)")
            continue
        bound = ORACLE_BOUND.get(name)
        if bound is not None:
            table, max_rows = bound
            n_in = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if n_in > max_rows:
                # out of the oracle's certified domain (the engine's
                # size dispatch runs a different — approximate —
                # clustering above the ceiling): rows-only, recorded
                # as such, NOT a false FAIL (ADVICE r5)
                print(
                    f"{name}: rows-only ({len(srows)} rows) — oracle "
                    f"domain is {table} <= {max_rows} rows, corpus has "
                    f"{n_in}"
                )
                continue
        res = con.execute(oracle[name])
        dcols_raw = [d[0] for d in res.description]
        order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
        dcols = [dcols_raw[i] for i in order]
        drows = sorted(
            (tuple(_norm(r[i]) for i in order) for r in res.fetchall()),
            key=lambda t: tuple(repr(x) for x in t),
        )
        if scols != dcols:
            print(f"{name}: FAIL cols {scols} != {dcols}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"{name}: FAIL rows {len(srows)} != {len(drows)}")
            failures += 1
            continue
        bad = None
        for srow, drow in zip(srows, drows):
            for c, a, b in zip(scols, srow, drow):
                if not _eq(a, b):
                    bad = (c, a, b)
                    break
            if bad:
                break
        if bad:
            print(f"{name}: FAIL value {bad}")
            failures += 1
        else:
            print(f"{name}: ok ({len(srows)} rows)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
