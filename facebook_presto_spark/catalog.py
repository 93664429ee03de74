"""Catalog: schema-on-read registration of parquet tables.

Mirrors the reference's Catalog → Schema → Table model
(presto-spi/.../connector/ConnectorMetadata.java:56 — listSchemaNames /
getTableHandle / getColumnHandles) on Spark's catalog: each parquet file
becomes a temp view; `spark.read.parquet` is the ConnectorPageSource
(TableScanOperator, presto-main/.../operator/TableScanOperator.java:42) —
Spark's DataSource V2 gives us split generation, predicate pushdown and
column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the table-staging layer behind this catalog
from facebook_presto_spark.staging import (  # noqa: F401
    SCRATCH, generate_once, session_views, split_staged)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every star-schema table under ``sf_dir`` as a DataFrame.

    Scans stay lazy — Catalyst prunes columns and pushes filters into the
    parquet reader at plan time, so loading "all tables" costs nothing.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = (
                events_table(spark, sf_dir) if name == "events"
                else spark.read.parquet(path)
            )
    return out


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events`` with its nanosecond-precision timestamp column.

    The driver's events.parquet stores ``ts`` as parquet TIMESTAMP(NANOS).
    Spark 4 reads that natively as a micro-truncated TIMESTAMP_NTZ — the
    same truncation DuckDB applies.  But parquet schema inference is cached
    per path AND the streaming mirror sets the session-global
    ``nanosAsLong`` legacy flag (its readStream path needs a fixed LONG
    schema), so depending on what ran first in the session the same read
    can come back BIGINT (nanos-since-epoch).  Dispatch on the observed
    dtype rather than assuming either.
    """
    from pyspark.sql import functions as F

    # batch reads go through the multi-file split staging (scan
    # parallelism, guide §6); the re-staged copy stores whatever form
    # this session reads (micro-truncated NTZ, or LONG nanos under the
    # streaming mirror's nanosAsLong flag — the flag is part of the
    # copy's identity, and both forms convert identically below).
    # The readStream mirror keeps the ORIGINAL single file (fixed
    # schema contract), as does the DuckDB oracle.
    df = spark.read.parquet(
        split_staged(spark, os.path.join(sf_dir, "events.parquet"))
    )
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_schema(spark: SparkSession, schema: str, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register ``sf_dir`` as a named schema of persistent parquet views,
    so qualified identifiers resolve: ``schema.table`` directly, and
    ``catalog.schema.table`` after the front-end strips the catalog
    qualifier (the reference's Catalog → Schema → Table model,
    ConnectorMetadata.java:56 — Spark's session catalog provides the
    schema level; the catalog level is a name prefix).
    """
    import re

    if not re.fullmatch(r"[A-Za-z_]\w*", schema):
        raise ValueError(f"invalid schema name: {schema}")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        if name == "events":
            # TIMESTAMP(NANOS) physical type: normalize ts like events_table,
            # dispatching on whichever dtype the (possibly cached /
            # legacy-flag) parquet schema yields in this session.
            probe = spark.read.parquet(path)
            if dict(probe.dtypes)["ts"] == "bigint":
                body = (
                    "SELECT event_id, timestamp_micros(ts div 1000) AS ts, "
                    "user_id, event_type, value, props "
                    f"FROM parquet.`{path}`"
                )
            else:
                body = f"SELECT * FROM parquet.`{path}`"
        else:
            body = f"SELECT * FROM parquet.`{path}`"
        spark.sql(f"CREATE OR REPLACE VIEW {schema}.{name} AS {body}")


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` sees the catalog.

    Memoized per (session, sf_dir): repeated queries through the SQL
    front-end must not re-read parquet footers and re-infer schemas — the
    reference resolves tables against cached connector metadata the same
    way (ConnectorMetadata.getTableHandle against the metastore cache).
    """
    def register() -> dict[str, DataFrame]:
        dfs = load_tables(spark, sf_dir)
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        return dfs

    return session_views(spark, ("tables", sf_dir), register)
