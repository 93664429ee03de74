"""Self-check harness mimicking the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01, then compares row count, column
names, and order-insensitive values.  Usage:

    python tools/selfcheck.py [name_filter ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v!r}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm_cell(x) for x in v) + "]"
        if hasattr(v, "isoformat"):
            s = v.isoformat()
            return s.replace("+00:00", "")
        return str(v)

    out = df.apply(lambda col: col.map(norm_cell))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as entry_mod
    from facebook_presto_spark.session import get_spark

    name_filter = sys.argv[1:]
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_pd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(spark_pd)} (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            if len(spark_pd) == 0:
                print(f"     WARNING {name}: empty result")
            continue
        try:
            duck_pd = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if len(spark_pd) != len(duck_pd):
            print(f"FAIL {name}: rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
            ok = False
        s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
        if s_cols != d_cols:
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            ok = False
        if ok:
            a, b = _normalize(spark_pd), _normalize(duck_pd)
            if not a.equals(b):
                diff = (a != b).any(axis=1)
                print(f"FAIL {name}: value mismatch on {int(diff.sum())}/{len(a)} rows")
                with pd.option_context("display.width", 250, "display.max_columns", 50):
                    print("  spark:", a[diff].head(3).to_dict("records"))
                    print("  duck :", b[diff].head(3).to_dict("records"))
                ok = False
        if ok:
            print(f"ok   {name}: rows={len(spark_pd)} hash-match [{time.time()-t0:.1f}s]")
            if len(spark_pd) == 0:
                print(f"     WARNING {name}: empty result")
        else:
            failures.append(name)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
