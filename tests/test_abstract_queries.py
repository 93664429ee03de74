"""Differential replay of the reference's AbstractTestQueries corpus.

The reference's workhorse correctness tier runs each test query on Presto
AND an H2 oracle and diffs row multisets (AbstractTestQueryFramework.java
:124-147, H2QueryRunner.java:88).  Here: every pure-literal
assertQuery/assertQueryOrdered call from AbstractTestQueries.java (1000+)
replays through ``engine.sql`` over the driver's synthetic TPC-H tables,
with DuckDB as the oracle, exposed to both engines through identical
TPCH-connector-style views.

Protocol per case:
- non-deterministic queries (rand/approx sketches/current_*) are skipped;
- the oracle side runs first: if DuckDB cannot run it (dialect gap,
  column absent from the synthetic subset), the case is skipped — Spark
  failing on those too is consistent by construction;
- if DuckDB succeeds, the engine MUST succeed and match (multisets;
  positional for assertQueryOrdered; count-only when the query has a
  top-level LIMIT without ORDER BY).

The corpus is large; failures collect into one assertion so a single run
reports every divergence at once.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import re

import pytest

from facebook_presto_spark.compat import abstract_queries as aq

pytestmark = pytest.mark.skipif(
    not os.path.exists(aq.ABSTRACT_TEST_QUERIES),
    reason="reference AbstractTestQueries.java not present",
)

SF_DIR = "/root/testdata/sf0.001"

# Queries whose results are legitimately engine-defined (same reasons the
# reference excludes them from assertQuery and checks shapes instead).
NONDETERMINISTIC = re.compile(
    r"rand\(|random\(|shuffle\(|current_|now\(\)|localtime|approx_distinct\(|"
    r"approx_percentile\(|approx_set\(|checksum\(|typeof\(|arbitrary\(|"
    r"row_number\(\)|rank\(\)",  # window fns over ties: order within peers
    re.IGNORECASE,
)

TABLE_WORD = re.compile(
    r"\b(orders|lineitem|customer|supplier|part|nation|region)\b", re.I
)

# Cases with a documented engine divergence or Spark limitation; every
# entry names its reason (matched on case-id prefix).
KNOWN_DIVERGENCES = {
    # round 4 removed two entries: testRows#3 (struct-typed columns in a
    # ROW→JSON cast now render as arrays via the runtime-typed
    # presto_json_field renderer, engine.py) and
    # testLambdaInSubqueryContext#1 (the FROM-less scalar fold handles
    # the subquery-as-HOF-argument shape).
    # Catalyst decorrelation (RewriteCorrelatedScalarSubquery /
    # RewritePredicateSubquery) rejects shapes the reference decorrelates
    # through its ApplyNode rule set (TransformCorrelatedScalarAggregation
    # ToJoin, PlanNodeDecorrelator).  The FROM-less shapes are folded at
    # translation time (_pass_exists_no_from / _pass_scalar_no_from /
    # _pass_projected_in); what remains needs a real correlated relation
    # in a position Catalyst refuses (join conditions, GROUP BY keys).
    # round 5 removed aggregations:testCubeNoInput: CUBE/ROLLUP now get
    # a probe-gated compensating global-row arm (translate._pass_cube_
    # rollup_empty_global) whose aggregation input folds to an empty
    # LocalRelation — no second full scan at scale (plan-asserted in
    # test_sqlfront.test_cube_empty_arm_plan_shape).
    # round 8 removed testCustomAdd: the differential env now installs
    # the test plugin (compat/test_plugin.py) exactly like the
    # reference's framework does (AbstractTestQueries.java:108
    # .scalars(CustomAdd.class)), so custom_add compares normally.
    # round 9 removed testSumDataSizeForStats / testMaxDataSizeForStats:
    # the hidden "$internal$" aggregates are implemented (sqlfront/
    # functions._data_size_for_stats over binary_fns.
    # presto_data_size_for_stats), so the corpus now has ZERO known
    # divergences.
}

# The engine reproduces the reference's double→integer cast bit-for-bit
# (Math.round = floor(x + 0.5) in IEEE double arithmetic, DoubleOperators
# .castToLong); DuckDB's cast converts via the exact binary value, which
# differs for doubles like 12854.49999999999998 where adding 0.5 rounds up
# in IEEE.  These oracles spell out the Java semantics so DuckDB computes
# what the reference computes.
ORACLE_OVERRIDES = {
    # H2 renders BOOLEAN as 0/1; the reference's assertQuery coerces —
    # spell the boolean literal so DuckDB produces what Presto produces
    "testSameInPredicateInProjectionAndFilter#0": "SELECT TRUE",
    "testCast#1": "SELECT CAST(floor(totalprice + 0.5) AS BIGINT) FROM orders",
    "testCast#6": "SELECT CAST(floor(totalprice + 0.5) AS BIGINT) FROM orders",
    "testTry#0": "SELECT linenumber, sum(100/(CAST(floor(tax*10 + 0.5) AS "
                 "BIGINT))) FROM lineitem GROUP BY linenumber",
    # The reference hardcodes 725468 because H2 can't express "size of
    # the trailing-space-stripped char value" — that constant encodes
    # ITS dbgen run's comments, which differ from DuckDB's dsdgen
    # output; spell the same semantics over the shared data instead
    # (AbstractTestAggregations.java:757-759)
    "aggregations:testSumDataSizeForStats#1":
        "SELECT sum(length(rtrim(comment))) FROM orders",
}


def _canon(v, tol: str = ".9g"):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return format(v, tol)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        # cross-engine comparisons see DECIMAL on one side and DOUBLE on
        # the other (e.g. avg over decimal columns) — canonicalize through
        # the same float tolerance
        return _canon(float(v), tol)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dt.time):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x, tol) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_canon(k, tol)}:{_canon(x, tol)}" for k, x in sorted(
                v.items(), key=lambda kv: str(kv[0]))) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return _canon(list(v), tol)
    return str(v)


def _rows(rows, tol: str = ".9g") -> list[tuple]:
    return [tuple(_canon(c, tol) for c in r) for r in rows]


def _match(spark_rows, duck_rows, ordered: bool) -> bool:
    for tol in (".9g", ".6g"):
        a, b = _rows(spark_rows, tol), _rows(duck_rows, tol)
        if not ordered:
            a, b = sorted(a), sorted(b)
        if a == b:
            return True
    # final fallback: string formatting straddles a rounding boundary for
    # values ~5e-7 apart (decimal-rounded vs float aggregation) — compare
    # cells numerically with relative tolerance
    a, b = _rows(spark_rows, ".6g"), _rows(duck_rows, ".6g")
    if not ordered:
        a, b = sorted(a), sorted(b)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for ca, cb in zip(ra, rb):
            if ca == cb:
                continue
            try:
                if math.isclose(float(ca), float(cb),
                                rel_tol=1e-5, abs_tol=1e-9):
                    continue
            except ValueError:
                pass
            return False
    return True


class _Oracle:
    """DuckDB runner that survives connection poisoning.

    Certain corpus queries leave the long-lived connection refusing all
    further statements ("unsuccessful or closed pending query") even from
    fresh cursors; rebuild the connection and retry once when that
    happens.
    """

    def __init__(self, spark):
        import threading

        self._spark = spark
        self._con = None
        self._lock = threading.Lock()
        self._rebuild()

    def _rebuild(self):
        import duckdb

        from facebook_presto_spark.compat import tpch_tiny

        con = duckdb.connect()
        tpch_tiny.register_connector_views(self._spark, con)
        # publish only a connection whose views are all registered
        self._con = con

    def run(self, sql: str):
        # cursor() opens a sibling connection to the same in-memory db —
        # DuckDB's documented pattern for concurrent callers.  A poisoned
        # connection is replaced exactly once: threads that failed on it
        # rebuild only if no other thread has replaced it yet, then all
        # retry on the current one
        con = self._con
        try:
            return con.cursor().execute(sql).fetchall()
        except Exception as e:
            if "pending" not in str(e):
                raise
            with self._lock:
                if self._con is con:
                    self._rebuild()
            return self._con.cursor().execute(sql).fetchall()


@pytest.fixture(scope="module")
def diff_env(spark, sf_dir):
    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(SF_DIR, spark=spark)
    # install the reference test framework's scalar plugin
    # (AbstractTestQueries.java:108 .scalars(CustomAdd.class))
    from facebook_presto_spark.compat import test_plugin

    test_plugin.install(spark)
    # the REAL TPC-H tiny dataset (dbgen sf0.01) under connector column
    # names — the exact relations the reference's hardcoded expected rows
    # were computed on
    yield engine, _Oracle(spark)
    from facebook_presto_spark import catalog

    for name, df in catalog.register_views(spark, SF_DIR).items():
        df.createOrReplaceTempView(name)


def _run_case(engine, con, case):
    """One differential case → (category, detail_or_None).

    Categories: nondet, known, ran, failed, oracle_skip+smoked,
    oracle_skip+subset, oracle_skip+runtime_shape, oracle_skip+smokefail.
    """
    if NONDETERMINISTIC.search(case.sql):
        return ("nondet", None)
    if any(case.case_id.startswith(k) for k in KNOWN_DIVERGENCES):
        return ("known", None)
    # NOTE: oracles that hardcode expected rows (VALUES …) are now
    # valid — the engine runs on the REAL tiny dataset they were
    # computed from.
    oracle_sql = ORACLE_OVERRIDES.get(case.case_id) or case.oracle or case.sql
    try:
        duck = con.run(oracle_sql)
    except Exception:
        # DuckDB can't stand in for H2 on this text — still require
        # the ENGINE to run the Presto query (execution smoke): every
        # query the reference's tests run must at least execute.
        # Tolerated errors are CLASSIFIED, never silently dropped:
        # a column the tiny dbgen subset genuinely lacks, or a
        # data-shaped runtime error during execution, are counted;
        # anything the translator/analyzer rejects is a failure —
        # the reference runs this text.
        try:
            engine.sql(case.sql).collect()
            return ("smoked", None)
        except Exception as e:
            msg = str(e)
            kind = type(e).__name__
            if "UNRESOLVED_ROUTINE" in msg:
                return ("smokefail",
                        f"{case.case_id}: missing function: {msg[:140]}")
            if "UNRESOLVED_COLUMN" in msg or "UNRESOLVED_FIELD" in msg:
                return ("subset", None)
            if kind in ("AnalysisException", "ParseException",
                        "ValueError", "KeyError",
                        "NotImplementedError", "IndexError"):
                return ("smokefail",
                        f"{case.case_id}: translator error {kind}: "
                        f"{msg[:140]}")
            return ("runtime_shape", None)  # executed, data-shaped error
    count_only = (
        re.search(r"\bLIMIT\b", case.sql, re.I)
        and not re.search(r"\bORDER\s+BY\b", case.sql, re.I)
    )
    try:
        got = engine.sql(case.sql).collect()
    except Exception as e:
        return ("failed", f"{case.case_id}: engine error: {str(e)[:160]}")
    if count_only:
        ok = len(got) == len(duck)
    else:
        ok = _match(got, duck, case.ordered)
    if not ok:
        return ("failed",
                f"{case.case_id}: mismatch "
                f"(spark {len(got)} rows vs duck {len(duck)}): {case.sql[:120]}")
    return ("ran", None)


def test_abstract_queries_differential(diff_env):
    # The ~1,300 cases are independent (pure SELECT text, no session
    # mutation), and each case is one tiny Spark job + one DuckDB query —
    # latency-bound, not CPU-bound.  Submitting them from a small thread
    # pool lets the Spark scheduler overlap the jobs (optimization guide
    # §2.6 "overlap independent jobs"); this cut the test from ~21 min to
    # a few minutes without changing what is asserted.  A guard keeps any
    # session-mutating text out of the pool (none in the corpus today).
    from concurrent.futures import ThreadPoolExecutor

    engine, con = diff_env
    cases = aq.extract_all()
    mutating = re.compile(r"^\s*(SET|USE|CREATE|DROP|INSERT|DEALLOCATE|PREPARE)\b", re.I)
    parallel = [c for c in cases if not mutating.match(c.sql)]
    serial = [c for c in cases if mutating.match(c.sql)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(lambda c: _run_case(engine, con, c), parallel))
    results += [_run_case(engine, con, c) for c in serial]

    ran = sum(1 for k, _ in results if k == "ran")
    nondet = sum(1 for k, _ in results if k == "nondet")
    known = sum(1 for k, _ in results if k == "known")
    smoked = sum(1 for k, _ in results if k == "smoked")
    subset = sum(1 for k, _ in results if k == "subset")
    runtime_shape = sum(1 for k, _ in results if k == "runtime_shape")
    dataset_golden = 0
    failures = [d for k, d in results if k == "failed"]
    smoke_failures = [d for k, d in results if k == "smokefail"]
    failed = len(failures)
    # original summary arithmetic: "compared" = clean passes + mismatches
    # (engine errors counted only in failed)
    ran += sum(1 for d in failures if "mismatch" in d)
    oracle_skip = smoked + subset + runtime_shape + len(smoke_failures)
    summary = (
        f"{ran} compared, {failed} failed, {oracle_skip} oracle-skipped "
        f"(of which {smoked} engine-smoked ok, {subset} subset-column, "
        f"{runtime_shape} runtime-shape, "
        f"{len(smoke_failures)} missing-function/translator-error), "
        f"{dataset_golden} dataset-specific-golden, {known} known-divergence, "
        f"{nondet} nondeterministic of {len(cases)}"
    )
    print(summary)
    assert not failures, summary + "\n" + "\n".join(failures[:40])
    assert not smoke_failures, summary + "\n" + "\n".join(smoke_failures[:40])
    assert ran >= 300, summary
