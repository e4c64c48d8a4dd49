#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each __spark_entry__
query on Spark AND its oracle_sql on DuckDB over the same parquet tables,
then compare row count, schema (column names sorted), and exact cell values
(columns sorted by name, rows sorted by all columns, NaN == NaN) — a
predictor for CORRECTNESS_r{N}.json's rows/schema/hash matches.

Usage:
    python scripts/driver_sim.py [sf_dir] [query ...]
Defaults: sf_dir=/root/testdata/sf0.01, all queries that have an oracle.
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(df, cols):
    """pandas frame -> sorted-rows list of tuples with canonical cells."""
    df = df[sorted(cols)]

    def cell(x):
        if x is None:
            return ("null",)
        if isinstance(x, float):
            if math.isnan(x):
                return ("nan",)
            return ("f", repr(x))
        return ("v", str(x))

    rows = [tuple(cell(x) for x in r) for r in df.itertuples(index=False)]
    rows.sort()
    return rows


def main() -> int:
    import duckdb
    import pandas as pd  # noqa: F401

    import __spark_entry__ as entry
    from feature_extraction_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a]

    # sys.path reaches only this process; the pandas-UDF queries' Python
    # workers import the package through PYTHONPATH, so a run started
    # outside the repository needs it there too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("driver_sim")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    if not names:
        names = [k for k in qs if k in oracles]

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    results = {}
    fails = 0
    for name in names:
        r = {"rows_match": None, "schema_match": None, "hash_match": None, "err": None}
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            if name not in oracles:
                r["spark_rows"] = len(sdf)
                r["err"] = "no_oracle"
                results[name] = r
                print(f"{name}: NO_ORACLE rows={len(sdf)}")
                continue
            odf = con.execute(oracles[name]).fetchdf()
            r["spark_rows"], r["oracle_rows"] = len(sdf), len(odf)
            r["rows_match"] = len(sdf) == len(odf)
            r["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
            if r["rows_match"] and r["schema_match"]:
                a = _canon(sdf, sdf.columns)
                b = _canon(odf, odf.columns)
                r["hash_match"] = a == b
                if not r["hash_match"]:
                    diffs = [
                        (i, x, y)
                        for i, (x, y) in enumerate(zip(a, b))
                        if x != y
                    ][:3]
                    r["first_diffs"] = [
                        {"row": i, "spark": str(x), "oracle": str(y)}
                        for i, x, y in diffs
                    ]
        except Exception as e:  # noqa: BLE001
            r["err"] = f"{type(e).__name__}: {e}"[:500]
        ok = r["rows_match"] and r["schema_match"] and r["hash_match"]
        if not ok:
            fails += 1
        print(f"{name}: {'OK' if ok else 'FAIL ' + json.dumps(r, default=str)[:400]}")
        results[name] = r

    print(f"\n{len(names) - fails}/{len(names)} green")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
