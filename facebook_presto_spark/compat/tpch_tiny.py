"""Real TPC-H `tiny` dataset (sf0.01) generated via DuckDB's dbgen.

The reference's acceptance corpora (hive_tpch goldens, tpch.tiny.*
testcases, AbstractTestQueries' hardcoded expected rows) are computed on
the TPCH connector's generated `tiny` schema — scale factor 0.01 of the
deterministic TPC-H spec data (TpchMetadata.java:86-93).  DuckDB ships
the same dbgen; exporting it once to parquet (under staging.SCRATCH)
gives both engines the exact dataset those goldens assume.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from facebook_presto_spark.staging import generate_once, split_staged

TABLES = ("region", "nation", "customer", "supplier", "part", "partsupp",
          "orders", "lineitem")

# tpch-connector column names are the hive/dbgen names minus the table
# prefix (TpchMetadata/TpchTable); duckdb's dbgen emits the prefixed form.
PREFIX = {"region": "r_", "nation": "n_", "customer": "c_",
          "supplier": "s_", "part": "p_", "partsupp": "ps_",
          "orders": "o_", "lineitem": "l_"}


def generate() -> str:
    """Generate (once) and return the parquet directory."""
    return generate_once("tpch_tiny", "CALL dbgen(sf=0.01)", TABLES)


# money columns are DOUBLE in the tpch connector (TpchMetadata /
# TpchTable column types); duckdb's dbgen makes them DECIMAL(15,2)
_DOUBLE_COLS = {"o_totalprice", "l_extendedprice", "l_discount", "l_tax",
                "c_acctbal", "s_acctbal", "p_retailprice", "ps_supplycost"}


def unprefixed_select(table: str, columns: list[str], src: str) -> str:
    """SELECT stripping the dbgen prefix → tpch-connector column names,
    with the connector's DOUBLE typing for money columns."""
    p = PREFIX[table]
    exprs = []
    for c in columns:
        e = f"CAST({c} AS DOUBLE)" if c in _DOUBLE_COLS else c
        exprs.append(f"{e} AS {c.removeprefix(p) if c.startswith(p) else c}")
    return f"SELECT {', '.join(exprs)} FROM {src}"


def columns_of(table: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_schema(os.path.join(generate(), f"{table}.parquet")).names


def register_connector_views(spark: SparkSession, con) -> None:
    """Register the tiny tables with *connector* (unprefixed) columns as
    bare names in both engines — the relations AbstractTestQueries and the
    tpch_connector/window_functions/order_by testcases address."""
    stage = generate()
    for t in TABLES:
        path = os.path.join(stage, f"{t}.parquet")
        cols = columns_of(t)
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            + unprefixed_select(t, cols, f"read_parquet('{path}')")
        )
        # the Spark side reads a multi-file split of the big tables so
        # single-task plans (notably BroadcastNestedLoopJoin from the
        # corpus's non-equi correlated subqueries: one case burned 780 s
        # of CPU in ONE task) parallelize over scan splits; the DuckDB
        # side keeps the original single file
        spath = path if t in ("region", "nation", "supplier") else \
            split_staged(spark, path, files=16)
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {t} AS "
            + unprefixed_select(t, cols, f"parquet.`{spath}`")
        )
