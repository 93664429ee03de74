"""TPC-DS corpus differential: the reference's own tpcds testcases.

The reference ships the full TPC-DS query set twice (product-test
testcases/tpcds/*.sql and presto-benchto-benchmarks sql/presto/tpcds) and
runs it over the tpcds connector's generated tables
(TpcdsMetadata.java).  Here the same generated dataset comes from
DuckDB's built-in dsdgen at sf0.01, exported to parquet and registered
identically in both engines; every product-test tpcds query is executed
through ``engine.sql`` and compared against DuckDB row-for-row.

Trailing LIMITs are stripped from both sides: TPC-DS queries order by
keys with ties, so the cut row-set under LIMIT is engine-dependent while
the full ordered result is deterministic — comparing the complete
multiset is the stronger check.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

TPCDS_DIR = (
    "/root/reference/presto-product-tests/src/main/resources/sql-tests/"
    "testcases/tpcds"
)
SF = "0.01"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(TPCDS_DIR), reason="reference tpcds corpus not present"
)

# documented engine/oracle divergences (case → reason)
KNOWN = {}


@pytest.fixture(scope="module")
def tpcds_env(spark, sf_dir):
    import duckdb

    from facebook_presto_spark.engine import PrestoSparkEngine
    from facebook_presto_spark.plans.tpcds import stage_dir

    stage = stage_dir(SF)
    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    con = duckdb.connect()
    tables = []
    for p in sorted(glob.glob(os.path.join(stage, "*.parquet"))):
        t = os.path.basename(p).removesuffix(".parquet")
        tables.append(t)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM parquet.`{p}`"
        )
    yield engine, con
    from facebook_presto_spark import catalog

    for t in tables:
        spark.catalog.dropTempView(t)
    for name, df in catalog.register_views(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def _load(path: str) -> str:
    sql = "\n".join(
        l for l in open(path).read().splitlines() if not l.startswith("--")
    ).strip().rstrip(";")
    # strip a trailing LIMIT (see module docstring)
    return re.sub(r"\bLIMIT\s+\d+\s*$", "", sql, flags=re.I).strip()


CASES = sorted(glob.glob(os.path.join(TPCDS_DIR, "*.sql"))) \
    if os.path.isdir(TPCDS_DIR) else []


def test_tpcds_differential(tpcds_env):
    from tests.test_abstract_queries import _match

    engine, con = tpcds_env

    # independent read-only cases; overlap them through the scheduler
    # (optimization guide §2.6) — was 149 s serial
    def run(path):
        name = os.path.basename(path).removesuffix(".sql")
        if name in KNOWN:
            return ("skip", (name, KNOWN[name]))
        sql = _load(path)
        try:
            duck = con.cursor().execute(sql).fetchall()
        except Exception as e:
            return ("skip", (name, f"oracle: {str(e)[:90]}"))
        try:
            got = engine.sql(sql).collect()
        except Exception as e:
            return ("fail", f"{name}: engine error: {str(e)[:160]}")
        if not _match(got, duck, ordered=False):
            return ("fail",
                    f"{name}: mismatch (spark {len(got)} vs duck {len(duck)} rows)")
        return ("ran", None)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(run, CASES))
    ran = sum(1 for k, _ in results if k == "ran")
    failures = [d for k, d in results if k == "fail"]
    skipped = [d for k, d in results if k == "skip"]
    summary = f"tpcds: {ran} compared, {len(failures)} failed, " \
              f"{len(skipped)} skipped of {len(CASES)}"
    print(summary)
    for s in skipped[:15]:
        print("  skip", s)
    assert not failures, summary + "\n" + "\n".join(failures[:30])
    assert ran >= 80, summary
