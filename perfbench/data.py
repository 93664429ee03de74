"""Benchmark input tables, generated inside the checkout.

The tables have the engine's TPC-H-style column set and value domains
(see TESTDATA.md at the repo root) and are produced by DuckDB's bundled
TPC-H ``dbgen``, which is deterministic: the same scale factor always
gives the same rows.  The projection maps dbgen's values onto the
domains the engine's queries are written for: decimals become DOUBLE,
dates become TIMESTAMP shifted three years later (1995-2001), nations
are named ``NATION_<key>``, a part type is its first word and a part
name is "<colour> <noun>".  The benchmark's ``--seed`` never changes the
data, only statement order and parameters.

Tables are written once under ``<cache>/sf<scale>-<key>/`` and reused
by later runs.  The key hashes ``PROJECTIONS`` and the DuckDB version,
so a change to either generates fresh tables rather than reading stale
ones.  A ``_DONE`` marker is written last, so an interrupted generation
is redone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# the engine's star-schema column set, per table
PROJECTIONS = {
    "region": "r_regionkey::INT AS r_regionkey, r_name",
    "nation": (
        "n_nationkey::INT AS n_nationkey, 'NATION_' || n_nationkey AS n_name, "
        "n_regionkey::INT AS n_regionkey"
    ),
    "customer": (
        "c_custkey, c_name, c_nationkey::INT AS c_nationkey, "
        "c_acctbal::DOUBLE AS c_acctbal, c_mktsegment"
    ),
    "supplier": (
        "s_suppkey, s_name, s_nationkey::INT AS s_nationkey, "
        "s_acctbal::DOUBLE AS s_acctbal"
    ),
    "part": (
        "p_partkey, split_part(p_name, ' ', 1) || ' ' || "
        "['anvil', 'bolt', 'gizmo', 'plate', 'ring', 'widget'][p_partkey % 6 + 1] AS p_name, "
        "p_brand, split_part(p_type, ' ', 1) AS p_type, p_size::INT AS p_size, "
        "p_retailprice::DOUBLE AS p_retailprice"
    ),
    "orders": (
        "o_orderkey, o_custkey, o_orderstatus, o_totalprice::DOUBLE AS o_totalprice, "
        "(o_orderdate + INTERVAL 3 YEAR)::TIMESTAMP AS o_orderdate, o_orderpriority"
    ),
    "lineitem": (
        "l_orderkey, l_partkey, l_suppkey, l_linenumber::INT AS l_linenumber, "
        "l_quantity::DOUBLE AS l_quantity, l_extendedprice::DOUBLE AS l_extendedprice, "
        "l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax, "
        "l_returnflag, l_linestatus, (l_shipdate + INTERVAL 3 YEAR)::TIMESTAMP AS l_shipdate"
    ),
}


def ensure(cache: str, sf: float) -> str:
    """Return the directory holding the tables at scale ``sf``, generating
    them first if an earlier run has not."""
    import duckdb

    # a change to the projection or to DuckDB's dbgen gives new tables
    key = hashlib.sha256(json.dumps([PROJECTIONS, duckdb.__version__]).encode()).hexdigest()[:12]
    dest = os.path.join(cache, f"sf{sf:g}-{key}")
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute("LOAD tpch")
        con.execute(f"CALL dbgen(sf={sf})")
        for table, proj in PROJECTIONS.items():
            out = os.path.join(tmp, f"{table}.parquet")
            con.execute(
                f"COPY (SELECT {proj} FROM {table}) TO '{out}' "
                "(FORMAT PARQUET, ROW_GROUP_SIZE 65536)"
            )
    finally:
        con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest
