"""TPC-DS rung scaling probe: the six driver-contract queries at
dsdgen sf0.1 (the bench scale) and sf1 (10×), reporting per-query
median+min and the 10× ratio.  Follows SCALE.md's noise protocol:
minima are the trustworthy statistic on this host (recurring
throttling bursts), and a ratio well under 10× at 10× data means the
plan scales sublinearly (partial aggregation + broadcast dims doing
their job); super-linear growth flags a shuffle or spill problem.

Usage: python tools/tpcds_scale_probe.py [runs]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from facebook_presto_spark.plans import tpcds as t
    from facebook_presto_spark.session import get_spark
    from facebook_presto_spark.sqlfront import translate
    from facebook_presto_spark.staging import session_views

    spark = get_spark("tpcds-scale")
    results: dict[str, dict[str, tuple[float, float]]] = {}
    for sf in ("0.1", "1"):
        stage = t.stage_dir(sf)

        def register(stage=stage):
            # the original single-file layout, not the runner's split one
            for tab in t._TABLES:
                spark.sql(
                    f"CREATE OR REPLACE TEMP VIEW tpcds_{tab} AS "
                    f"SELECT * FROM parquet.`{stage}/{tab}.parquet`"
                )
            return {f"tpcds_{tab}": spark.table(f"tpcds_{tab}")
                    for tab in t._TABLES}

        session_views(spark, ("tpcds-unsplit", stage), register)
        for name, markers in t.PICKS.items():
            sql = translate(t._wrap(t._load(name), markers))
            df = spark.sql(sql)
            df.collect()  # prewarm (plan + codegen + page cache)
            times = []
            for _ in range(runs):
                t0 = time.perf_counter()
                spark.sql(sql).collect()
                times.append(time.perf_counter() - t0)
            results.setdefault(name, {})[sf] = (
                statistics.median(times), min(times))
            print(f"sf{sf} {name}: median {statistics.median(times):.2f}s "
                  f"min {min(times):.2f}s", flush=True)
    print("\n10x-data ratios (min-based, the noise-robust statistic):")
    for name, by_sf in results.items():
        r_med = by_sf["1"][0] / by_sf["0.1"][0]
        r_min = by_sf["1"][1] / by_sf["0.1"][1]
        print(f"  {name}: median-ratio {r_med:.1f}x  min-ratio {r_min:.1f}x")


if __name__ == "__main__":
    main()
