#!/usr/bin/env python3
"""Driver-sim verification (the /verify recipe): vanilla SparkSession,
__spark_entry__ contract, every query vs its DuckDB oracle at sf0.01.

Usage: python scripts/verify_driver.py [name ...]   (no names => all)
       python scripts/verify_driver.py --staleness
           Print every registered query with the last round that produced a
           driver correctness row for it (from CORRECTNESS_r*.json), stalest
           first, never-graded queries leading. The output IS the next
           round's _GRADE_FIRST pre-list: take the first 50 names.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return ("null",)
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, (np.floating, float)):
        return ("f", "nan") if math.isnan(float(v)) else ("f", float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, np.datetime64):
        return ("ts", pd.Timestamp(v).isoformat())
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if hasattr(v, "isoformat"):
        return ("ts", v.isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("arr",) + tuple(canon(x) for x in v)
    if isinstance(v, bool):
        return ("b", v)
    return ("s", str(v))


def rows_canon(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(canon(x) for x in r) for r in pdf[cols].itertuples(index=False)]
    return sorted(rows), cols


def staleness_report() -> int:
    """Per-query last-graded round, stalest first (never-graded lead).

    Reads every CORRECTNESS_r*.json in the repo root; a query's grade round
    is the HIGHEST round whose file contains a row for it. Within the same
    round, registry order is preserved so the report is a stable pre-list.
    """
    import glob
    import json
    import re

    from flink_real_time_data_warehouse_spark.queries import registry

    last: dict[str, int] = {}
    for path in sorted(glob.glob("/root/repo/CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), rnd)
    names = list(registry())
    order = {n: i for i, n in enumerate(names)}
    # registry() puts _GRADE_FIRST names first; for the report we want a
    # stable registration-independent tiebreak, so sort by (round, name).
    ranked = sorted(names, key=lambda n: (last.get(n, 0), order[n]))
    for n in ranked:
        rnd = last.get(n, 0)
        print(f"r{rnd:02d}  {n}" if rnd else f"---  {n}")
    ungraded = sum(1 for n in names if n not in last)
    print(f"# {len(names)} registered, {ungraded} never driver-graded")
    return 0


def main() -> int:
    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    res = e.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows", flush=True)
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS FROM '{SF_DIR}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    only = set(sys.argv[1:])
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(ex).__name__}: {ex}", flush=True)
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(sdf)} rows)", flush=True)
            continue
        odf = con.sql(oracles[name]).df()
        srows, scols = rows_canon(sdf)
        orows, ocols = rows_canon(odf)
        ok_schema = scols == ocols
        ok_rows = len(srows) == len(orows)
        ok_hash = srows == orows
        status = "OK" if (ok_schema and ok_rows and ok_hash) else "FAIL"
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)} schema={ok_schema} hash={ok_hash}"
            f" ({time.perf_counter() - t0:.1f} s)",
            flush=True,
        )
        if status == "FAIL":
            failed.append(name)
            if not ok_schema:
                print(f"  spark cols: {scols}\n  oracle cols: {ocols}")
            elif srows and orows:
                diff = [(a, b) for a, b in zip(srows, orows) if a != b][:2]
                for a, b in diff:
                    print(f"  spark:  {a}\n  oracle: {b}")
    print(("FAILED: " + ", ".join(failed)) if failed else "ALL OK", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    if "--staleness" in sys.argv[1:]:
        sys.exit(staleness_report())
    sys.exit(main())
