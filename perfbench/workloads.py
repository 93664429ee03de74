"""The two workloads and the figures they report.

Every workload is a closed loop: a client sends its next statement only
when the previous one has returned.  The engine receives only the
generated SQL text.  ``--seed`` sets statement order and parameters;
the tables never change (see data.py).

A window runs a fixed number of whole rounds (a TPC-H pass, a deck of
interactive statements): enough to fill ``--seconds`` at a round's
typical length, at least one.  So every seed, and every run on a faster
or slower machine, measures the same statements.  Results are checked
against the references in checks.py only after the window has closed.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import queue
import random
import statistics
import subprocess
import sys
import threading
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

import checks
import data
import engine_io
import harness
from harness import now

HERE = os.path.dirname(os.path.abspath(__file__))


def _declared(section: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json at the checkout root lists them."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


END_TO_END = _declared("end_to_end")
# the per-layer figures both workloads reach; the figures of layers only
# one workload enters are printed in its context line instead
PER_LAYER = _declared("per_layer")

# per-statement times reported as a median and a p90; every other
# per-statement figure is a mean (counters, bytes, and Catalyst phases,
# which Spark records in whole milliseconds)
_MEDIAN_P90 = ("engine.sql_ms", "sqlfront.translate_ms", "catalyst.total_ms", "exec.run_ms",
               "exec.cpu_ms", "result.collect_ms", "server.first_response_ms", "server.page_ms")

# span name -> self-time metric
_SELF = {
    "statement": "self.statement_ms", "engine.sql": "self.engine_ms",
    "catalyst.plan": "self.catalyst_ms", "exec": "self.exec_ms",
    "result.collect": "self.result_ms", "http.post": "self.http_post_ms",
    "http.page": "self.http_page_ms",
}


@dataclass
class Sample:
    kind: str
    key: object  # what the check needs: a reference query or parameters
    latency: float
    columns: list
    rows: list
    sql: str = ""
    ok: bool = True


@dataclass
class Window:
    samples: list
    elapsed: float
    cpu_s: float
    worker_cpu_s: float
    noise: dict
    tracer: harness.Tracer
    layer: dict = field(default_factory=dict)
    http: list = field(default_factory=list)  # per HTTP sample: pages, bytes, text


class Run:
    """One invocation: its arguments, where its tables live, and the
    count of attempted and failed statements over all its windows."""

    def __init__(self, seed: int, seconds: float, traced: bool, cache: str, scale: float | None):
        self.seed = seed
        self.seconds = seconds  # sets the number of rounds: see rounds()
        self.traced = traced
        self.cache = cache
        self.scale = scale  # overrides every workload's scale factor (smoke tests)
        self.outcomes = harness.Outcomes()
        self._stmt = 0

    def data(self, sf: float) -> str:
        return data.ensure(self.cache, self.scale or sf)

    def rounds(self, typical_s: float) -> int:
        """Whole rounds in a window: enough to fill ``--seconds`` at a
        round's typical length, at least one."""
        return max(1, math.ceil(self.seconds / typical_s))

    def stmt_id(self) -> int:
        self._stmt += 1
        return self._stmt


# --------------------------------------------------------------------------
# reporting
# --------------------------------------------------------------------------


def end_to_end(setup_s: float, w: Window) -> dict:
    lat = [s.latency * 1e3 for s in w.samples]
    st = harness.summarize(lat)
    verified = sum(1 for s in w.samples if s.ok)
    return {
        "setup_s": setup_s,
        "queries_per_s": verified / w.elapsed,
        "latency_p50_ms": st["p50"],
        "latency_p90_ms": st["p90"],
        "cpu_ms_per_query": w.cpu_s * 1e3 / max(1, len(w.samples)),
    }


def layer_figures(setup: dict, warmup_ms: float, traced: Window, rss_mb: float,
                  overhead_ms: list[float]) -> dict:
    """Every per-layer figure of a traced run, named as BENCHMARK.json
    names the per-layer metrics.  A layer the workload never enters gives
    no figure.  ``overhead_ms`` holds one sandwich() per statement
    measured for the cost of tracing."""
    out = {
        "session.start_ms": setup["session.start_ms"],
        "session.jvm_peak_rss_mb": rss_mb,
        "engine.for_dir_ms": setup["engine.for_dir_ms"],
        "engine.warmup_ms": warmup_ms,
    }
    n = max(1, len(traced.samples))
    for key, xs in traced.layer.items():
        if not xs:
            continue
        if key in _MEDIAN_P90:
            out[key] = statistics.median(xs)
            out[key[:-3] + "_p90_ms"] = harness.percentile(xs, 90)
        else:
            out[key] = statistics.fmean(xs)
    run, cpu = sum(traced.layer.get("exec.run_ms", [])), sum(traced.layer.get("exec.cpu_ms", []))
    if run:
        out["exec.cpu_ratio"] = cpu / run
    for name, selfs in traced.tracer.self_times().items():
        out[_SELF[name]] = sum(selfs) * 1e3 / n
    if traced.worker_cpu_s:
        out["udf.worker_cpu_ms"] = traced.worker_cpu_s * 1e3 / n
    for kind in {s.kind for s in traced.samples}:
        xs = by_kind(traced.samples, kind)
        out[f"{_KIND_PREFIX.get(kind, 'kind')}.{kind}_ms"] = statistics.median(xs)
        if kind == "metadata":
            out["metadata.p50_ms"] = statistics.median(xs)
            out["metadata.p90_ms"] = harness.percentile(xs, 90)
    out["trace.latency_p50_ms"] = harness.summarize(
        [s.latency * 1e3 for s in traced.samples])["p50"]
    if overhead_ms:
        out["trace.overhead_ms"] = statistics.median(overhead_ms)
    return out


def sandwich(untraced_s: float, traced_s: float, untraced_again_s: float) -> float:
    """The cost of tracing one statement (ms): a traced run set against
    the mean of the untraced runs just before and after it, which are
    together as warm as it is."""
    return (traced_s - (untraced_s + untraced_again_s) / 2) * 1e3


# the write cycle's statements are the hive layer's
_KIND_PREFIX = {"ctas": "hive", "insert": "hive", "readback": "hive", "drop": "hive"}


def info(w: Window) -> dict:
    """Context printed beside the metrics: sample count (and how many lie
    beyond the p90), window length and the machine's noise over it."""
    st = harness.summarize([s.latency for s in w.samples])
    return {"samples": st["n"], "beyond_p90": st["beyond_p90"], "window_s": w.elapsed,
            "noise": w.noise, "tracer": w.tracer}


def by_kind(samples, kind: str) -> list[float]:
    return [s.latency * 1e3 for s in samples if s.kind == kind]


# --------------------------------------------------------------------------
# tpch_sql: one client in this process
# --------------------------------------------------------------------------


def _window(run: Run, stmts: engine_io.Statements, rounds) -> Window:
    """Run the given rounds of statements."""
    samples = []
    noise = harness.Noise()
    cpu0 = harness.tree_cpu(os.getpid())
    t0 = now()
    for rnd in rounds:
        for kind, key, sql in rnd:
            try:
                lat, cols, rows = stmts.run(run.stmt_id(), sql)
            except Exception as e:  # noqa: BLE001 - a failed statement is counted, not fatal
                run.outcomes.fail(f"{kind}: {str(e).splitlines()[0] if str(e) else e!r}")
                continue
            run.outcomes.ok()
            samples.append(Sample(kind, key, lat, cols, rows, sql))
    elapsed = now() - t0
    cpu1 = harness.tree_cpu(os.getpid())
    return Window(samples, elapsed, cpu1["total_s"] - cpu0["total_s"],
                  cpu1["workers_s"] - cpu0["workers_s"], noise.finish(),
                  stmts.tracer, stmts.layer)


# typical length of a round on a 4-core VM, in whole seconds: the median
# window of the ten-seed runs recorded in README.md, for a cold TPC-H pass
# (25.6 s) and for a deck (14.5 s over two decks)
PASS_S = 26.0
DECK_S = 7.0


def tpch_sql(run: Run):
    """Passes over the 22 Presto-dialect TPC-H queries at sf0.1, each pass
    in a seeded order, through ``PrestoSparkEngine.sql(...).collect()``.

    The measured window is the session's first run of each query, code
    generation included.  A traced run traces that same cold window."""
    from facebook_presto_spark.plans.presto_sql import ORACLE, PRESTO_SQL

    names = sorted(n for n in PRESTO_SQL if n.startswith("prestosql_q"))
    rng = random.Random(run.seed)

    def one_pass():
        order = names[:]
        rng.shuffle(order)
        return [(n, ORACLE[n], PRESTO_SQL[n]) for n in order]

    def window(traced: bool, rounds) -> Window:
        return _window(run, engine_io.Statements(eng, harness.Tracer(traced)), rounds)

    sf_dir = run.data(0.1)
    eng, setup = engine_io.start(sf_dir)
    try:
        w0 = now()
        for n in ("prestosql_q06", "prestosql_q14", "prestosql_q03"):
            eng.sql(PRESTO_SQL[n]).collect()
        warmup_ms = (now() - w0) * 1e3
        main = window(run.traced, (one_pass() for _ in range(run.rounds(PASS_S))))
        windows, overhead = [main], []
        if run.traced:
            # the cost of tracing, over half a pass: each query once more
            # to warm it, then untraced, traced and untraced again, back
            # to back (a query's second run is still much slower than its
            # third, its third only a little slower than its fourth)
            for item in one_pass()[: len(names) // 2]:
                windows.append(window(False, [[item]]))
                trio = [window(traced, [[item]]) for traced in (False, True, False)]
                windows += trio
                if all(w.samples for w in trio):
                    overhead.append(sandwich(*(w.samples[0].latency for w in trio)))
        rss = harness.jvm_peak_rss_mb(os.getpid())
    finally:
        engine_io.stop(eng.spark)
    con = checks.duckdb_tables(sf_dir, data.PROJECTIONS)
    for w in windows:
        _check_digests(run, con, w.samples)
    if not run.traced:
        return end_to_end(setup["setup_s"], main), info(main)
    return layer_figures(setup, warmup_ms, main, rss, overhead), info(main)


def _check_digests(run: Run, con, samples) -> None:
    """Samples whose ``key`` is a DuckDB query: compare result digests."""
    ref: dict[str, str] = {}
    for s in samples:
        if not isinstance(s.key, str):
            continue
        if s.key not in ref:
            ref[s.key] = checks.duckdb_digest(con, s.key)
        if checks.digest(s.columns, s.rows) != ref[s.key]:
            s.ok = False
            run.outcomes.mismatch(f"{s.kind}: result differs from DuckDB for {s.key[:80]!r}")


# --------------------------------------------------------------------------
# the write path, run inside the interactive mix
# --------------------------------------------------------------------------

_ETL_COLS = "l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, l_shipdate, l_returnflag"
_CENTS = "CAST(round({}*100) AS BIGINT)"
_READBACK = (
    "SELECT l_returnflag, count(*) AS n, "
    f"sum({_CENTS.format('l_extendedprice')}) AS price_cents, "
    f"sum({_CENTS.format('l_quantity')}) AS qty_cents "
    "FROM {t} GROUP BY l_returnflag"
)
_RANGE = (
    "SELECT count(*) AS n, sum(" + _CENTS.format("l_extendedprice") + ") AS price_cents "
    "FROM {t} WHERE l_orderkey BETWEEN {lo} AND {hi}"
)


def etl_cycle(t: str, residues, lo: int, hi: int, mod: int = 2) -> list:
    """CTAS one residue class of ``l_orderkey % mod`` into a ``hive``
    table partitioned on ``l_returnflag``, INSERT the other classes, read
    the table back twice, DROP it.  Each read-back carries its DuckDB twin
    over the source rows; the DROP carries the table's name."""
    def part(r):
        return f"SELECT {_ETL_COLS} FROM lineitem WHERE l_orderkey % {mod} = {r}"

    src = "(SELECT * FROM lineitem WHERE " + " OR ".join(
        f"l_orderkey % {mod} = {r}" for r in residues) + ")"
    return (
        [("ctas", None,
          f"CREATE TABLE {t} WITH (partitioned_by = ARRAY['l_returnflag']) AS {part(residues[0])}")]
        + [("insert", None, f"INSERT INTO {t} {part(r)}") for r in residues[1:]]
        + [("readback", _READBACK.format(t=src), _READBACK.format(t=t)),
           ("readback", _RANGE.format(t=src, lo=lo, hi=hi), _RANGE.format(t=t, lo=lo, hi=hi)),
           ("drop", ("table", t), f"DROP TABLE {t}")]
    )


def table_dir(warehouse: str, table: str) -> str:
    """Directory of a ``hive.<schema>.<table>`` table in the warehouse."""
    schema, name = table.split(".")[1:]
    return os.path.join(warehouse, f"hive_{schema}.db", name)


def table_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a table directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


# --------------------------------------------------------------------------
# interactive_http: nproc client threads against the server process
# --------------------------------------------------------------------------

_POLY = "POLYGON ((0 0, 5000 0, 5000 5000, 0 5000, 0 0))"
_GEO = (
    "SELECT c_custkey, ST_Contains(ST_GeometryFromText('" + _POLY + "'), "
    "ST_Point(c_acctbal, c_nationkey * 200 + 100)) AS inside, "
    "ST_Distance(ST_Point(c_acctbal, 0), ST_Point(0, c_nationkey)) AS dist "
    "FROM customer WHERE c_custkey BETWEEN {lo} AND {hi}"
)
_SCALAR = (
    "SELECT c_custkey, normal_cdf(0.0, 1000.0, c_acctbal) AS ncdf, "
    "beta_cdf(2.0, 5.0, CAST(c_custkey % 997 AS DOUBLE) / 997) AS bcdf, "
    "url_encode(c_name) AS enc, "
    "to_hex(hmac_sha256(to_utf8(c_name), to_utf8('perfbench'))) AS mac, "
    "CAST(ROW(c_custkey, c_name) AS JSON) AS js "
    "FROM customer WHERE c_custkey BETWEEN {lo} AND {hi}"
)
UDF_ROWS = 200


def deal(rng: random.Random, p: dict, table: str) -> list:
    """One deck of (kind, check key, sql) items with seeded parameters, in
    the order they go out; ``table`` names the write cycle's table.

    A deck holds one of each statement form of the mix: point lookup,
    small join, small GROUP BY, paged scan, the four metadata statements,
    the two Python-UDF statements, and one write cycle (etl_cycle), whose
    five statements go out back to back from the client that drew it.
    No weighting is claimed: every form counts once.  The order is
    seeded, long kinds first."""
    cents = _CENTS
    k = rng.choice(p["orderkeys"])
    y = rng.randrange(1995, 2001)
    lo = rng.randrange(1, max(2, p["max_lkey"] - 3000))
    out = [
        ("point", None,
         "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
         f"FROM orders WHERE o_orderkey = {k}"),
        ("join", None,
         f"SELECT n_name, count(*) AS customers, sum({cents.format('c_acctbal')}) AS bal_cents "
         "FROM customer JOIN nation ON c_nationkey = n_nationkey "
         f"WHERE n_regionkey = {rng.randrange(5)} GROUP BY n_name"),
        ("agg", None,
         f"SELECT o_orderpriority, count(*) AS orders, sum({cents.format('o_totalprice')}) AS price_cents "
         f"FROM orders WHERE o_orderdate >= TIMESTAMP '{y}-01-01' "
         f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01' GROUP BY o_orderpriority"),
        ("scan_paged", None,
         "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
         f"WHERE l_orderkey BETWEEN {lo} AND {lo + 2999}"),
    ]
    described = rng.choice(sorted(p["columns"]))
    out += [
        ("metadata", ("tables",), "SHOW TABLES"),
        ("metadata", ("all_tables",), "SELECT table_name FROM information_schema.tables"),
        ("metadata", ("columns", described),
         f"SELECT column_name FROM information_schema.columns WHERE table_name = '{described}'"),
        ("metadata", ("queries",), "SELECT count(*) AS n FROM system.runtime.queries"),
    ]
    for shape, text in (("geo", _GEO), ("scalar", _SCALAR)):
        lo = rng.randrange(1, p["ncust"] - p["udf_rows"])
        hi = lo + p["udf_rows"] - 1
        out.append(("udf", (shape, lo, hi), text.format(lo=lo, hi=hi)))
    residues = [0, 1]
    rng.shuffle(residues)
    lo = rng.randrange(1, max(2, p["max_lkey"] - 10_000))
    out.append(("write", None, etl_cycle(table, residues, lo, lo + 9_999)))
    rng.shuffle(out)
    # the long items go out first, so the window does not end waiting on
    # one client while the others idle
    out.sort(key=lambda item: item[0] not in _LONG)
    return out


# kinds whose items take a second or more: a whole write cycle, the
# information_schema statements, the Python-UDF statements
_LONG = ("write", "metadata", "udf")


class _Dealer:
    """Hands the items of a window's decks to the client threads, one at
    a time; ``next`` returns None once the last deck is empty."""

    def __init__(self, decks):
        self._decks = decks
        self._cur: list = []
        self._lock = threading.Lock()

    def next(self):
        with self._lock:
            if not self._cur:
                self._cur = next(self._decks, [])
            return self._cur.pop(0) if self._cur else None


def http_statement(base: str, sql: str) -> dict:
    """POST a statement and follow ``nextUri`` to the last page."""
    t0 = now()
    req = urllib.request.Request(f"{base}/v1/statement", data=sql.encode(), method="POST",
                                 headers={"X-Presto-User": "perfbench"})
    with urllib.request.urlopen(req, timeout=170) as r:
        body = r.read()
    t1 = now()
    pages, nbytes = [(t0, t1)], len(body)
    p = json.loads(body)
    columns = [c["name"] for c in p.get("columns") or []]
    rows = list(p.get("data") or [])
    while p.get("nextUri") and not p.get("error"):
        a = now()
        with urllib.request.urlopen(p["nextUri"], timeout=170) as r:
            body = r.read()
        pages.append((a, now()))
        nbytes += len(body)
        p = json.loads(body)
        columns = columns or [c["name"] for c in p.get("columns") or []]
        rows += p.get("data") or []
    if p.get("error"):
        raise RuntimeError(p["error"].get("message", "query failed"))
    return {"t0": t0, "t1": pages[-1][1], "pages": pages, "bytes": nbytes,
            "columns": columns, "rows": rows}


class _Server:
    """The server process and its line protocol (see server_main.py)."""

    def __init__(self, sf_dir: str, log_path: str):
        self._log_path = log_path
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server_main.py"), sf_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log, text=True,
        )
        self._replies: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PB "):
                kind, _, payload = line[3:].strip().partition(" ")
                self._replies.put((kind, json.loads(payload)))
        self._replies.put(("EOF", None))

    def reply(self, want: str, timeout: float = 170):
        kind, payload = self._replies.get(timeout=timeout)
        if kind != want:
            with open(self._log_path) as f:
                tail = f.readlines()[-40:]
            raise RuntimeError(f"server answered {kind}, expected {want}; its log ends:\n"
                               + "".join(tail))
        return payload

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.send("quit")
                self.proc.stdin.close()
            self.proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        self._reader.join(timeout=10)
        self._log.close()


def _http_window(run: Run, base: str, server_pid: int, params: dict, tracer: harness.Tracer,
                 clients: int, decks: int, seed, tag: str) -> Window:
    """``decks`` decks dealt from ``seed``; ``tag`` names the window's
    write-cycle tables."""
    rng, n = random.Random(seed), itertools.count(1)
    deck = _Dealer(deal(rng, params, f"hive.perfbench.{tag}{next(n)}") for _ in range(decks))
    samples: list[Sample] = []
    extra: list[dict] = []
    layer: dict[str, list] = defaultdict(list)
    lock = threading.Lock()
    # Two information_schema statements in flight at once race in the
    # engine: each rebuilds the information_schema views with CREATE OR
    # REPLACE VIEW, and one fails with TABLE_OR_VIEW_ALREADY_EXISTS.  Until
    # that is fixed they go out one at a time (other statements still
    # overlap them); the wait for this lock is not part of the latency.
    infoschema = threading.Lock()

    def one(kind, key, sql) -> bool:
        if kind == "drop":
            # the table must be where the check after the window looks
            # for it, or that check would pass vacuously
            path = table_dir(params["warehouse"], key[1])
            if not os.path.isdir(path):
                with lock:
                    run.outcomes.fail(f"drop: no warehouse directory for {key[1]}")
                return False
            if tracer.enabled:
                files, size = table_files(path)
                with lock:
                    layer["hive.files_written"].append(files)
                    layer["hive.bytes_written_per_row"].append(size / params["lineitem_rows"])
        try:
            if "information_schema" in sql:
                with infoschema:
                    r = http_statement(base, sql)
            else:
                r = http_statement(base, sql)
        except Exception as e:  # noqa: BLE001 - counted, not fatal
            with lock:
                run.outcomes.fail(f"{kind}: {e}")
            return False
        with lock:
            run.outcomes.ok()
            samples.append(Sample(kind, key, r["t1"] - r["t0"], r["columns"], r["rows"], sql))
            extra.append({**r, "sql": sql, "kind": kind})
        return True

    def client() -> None:
        while True:
            item = deck.next()
            if item is None:
                return
            kind, key, sql = item
            if kind != "write":
                one(kind, key, sql)
                continue
            for step in sql:  # a failed step ends its cycle
                if not one(*step):
                    break

    noise = harness.Noise()
    cpu0 = harness.tree_cpu(server_pid)
    t0 = now()
    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = now() - t0
    cpu1 = harness.tree_cpu(server_pid)
    return Window(samples, elapsed, cpu1["total_s"] - cpu0["total_s"],
                  cpu1["workers_s"] - cpu0["workers_s"], noise.finish(), tracer, layer, extra)


def _http_layers(w: Window, records: list[dict]) -> None:
    """Client-side page timings plus the server-side records, matched to
    the client statement with the same text whose POST they fall in."""
    layer, tracer = w.layer, w.tracer
    by_sql: dict[str, list[dict]] = defaultdict(list)
    for rec in records:
        by_sql[rec["sql"]].append(rec)
    for stmt, r in enumerate(w.http):
        post = r["pages"][0]
        layer["server.first_response_ms"].append((post[1] - post[0]) * 1e3)
        layer["server.pages"].append(len(r["pages"]))
        layer["server.response_bytes"].append(r["bytes"])
        layer["result.rows"].append(len(r["rows"]))
        for a, b in r["pages"][1:]:
            layer["server.page_ms"].append((b - a) * 1e3)
        root = tracer.add("statement", r["t0"], r["t1"], stmt)
        post_span = None
        for i, (a, b) in enumerate(r["pages"]):
            span = tracer.add("http.post" if i == 0 else "http.page", a, b, stmt, root)
            post_span = post_span if i else span
        match = next((rec for rec in by_sql.get(r["sql"], [])
                      if post[0] <= rec["t0"] <= post[1] and not rec.get("used")), None)
        if match is None:
            continue
        match["used"] = True
        tracer.add("engine.sql", match["t0"], match["t1"], stmt, post_span)
        tracer.add("catalyst.plan", match["t1"], match["t2"], stmt, post_span)
        # as in process: from the planned statement to its last row
        tracer.add("result.collect", match["t2"], r["t1"], stmt, root)
        layer["result.collect_ms"].append((r["t1"] - match["t2"]) * 1e3)
        layer["engine.sql_ms"].append((match["t1"] - match["t0"]) * 1e3)
        layer["sqlfront.translate_ms"].append(match["translate_ms"])
        for name, ms in match["phases"].items():
            layer[f"catalyst.{name}_ms"].append(ms)
        layer["catalyst.total_ms"].append(sum(match["phases"].values()))
        engine_io.record_exec(layer, match["exec"])
        engine_io.add_exec_spans(tracer, stmt, root, match["exec"]["intervals"])
    udf = [s for s in w.samples if s.kind == "udf"]
    if udf:
        layer["udf.rows_per_s"] = [sum(len(s.rows) for s in udf) / sum(s.latency for s in udf)]


def _check_http(run: Run, con, samples, params: dict) -> None:
    """Plain SELECTs against DuckDB running the same text; metadata
    against the known tables and columns; UDF statements against Python
    references over the same rows; write-cycle read-backs against DuckDB
    over the source rows, and a DROP by its table directory being gone."""
    ref: dict[str, str] = {}
    for s in samples:
        if s.kind in ("point", "join", "agg", "scan_paged"):
            if s.sql not in ref:
                ref[s.sql] = checks.duckdb_digest(con, s.sql)
            good = checks.digest(s.columns, s.rows) == ref[s.sql]
        elif s.kind == "metadata":
            what = s.key[0]
            # the table or column name, whatever the engine calls its column
            col = next((i for i, c in enumerate(s.columns)
                        if c.lower() in ("table", "tablename", "table_name", "column_name")), 0)
            got = {r[col] for r in s.rows}
            if what == "tables":
                good = got == set(params["columns"])
            elif what == "all_tables":
                # every table of the catalog; like Presto's, the listing may
                # hold more than the current schema (system tables here)
                good = got >= set(params["columns"])
            elif what == "columns":
                good = got == set(params["columns"][s.key[1]])
            else:
                good = len(s.rows) == 1 and s.rows[0][0] >= 1
        elif s.kind == "udf":
            good = _check_udf(con, s)
        elif s.kind == "readback":
            if s.key not in ref:
                ref[s.key] = checks.duckdb_digest(con, s.key)
            good = checks.digest(s.columns, s.rows) == ref[s.key]
        elif s.kind == "drop":
            good = not os.path.exists(table_dir(params["warehouse"], s.key[1]))
        else:  # ctas, insert: proven by the read-backs of their cycle
            good = True
        if not good:
            s.ok = False
            run.outcomes.mismatch(
                f"{s.kind}: wrong result for {str(s.key or s.sql)[:80]}: {str(s.rows)[:150]}")


def _check_udf(con, s: Sample) -> bool:
    shape, lo, hi = s.key
    src = {r[0]: r for r in con.execute(
        "SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM customer "
        f"WHERE c_custkey BETWEEN {lo} AND {hi}").fetchall()}
    if len(s.rows) != len(src):
        return False
    for row in s.rows:
        key, name, bal, nk = src.get(row[0], (None,) * 4)
        if key is None:
            return False
        if shape == "geo":
            y = nk * 200 + 100
            if row[1] != (0 < bal < 5000 and 0 < y < 5000):
                return False
            if not checks.close(row[2], math.hypot(bal, nk)):
                return False
        else:
            ncdf, bcdf, enc, mac, js = row[1:]
            if not (checks.close(ncdf, checks.normal_cdf(0.0, 1000.0, bal))
                    and checks.close(bcdf, checks.beta_cdf_int(2, 5, (key % 997) / 997.0))
                    and enc == checks.url_encode(name)
                    and mac == checks.hmac_sha256_hex(name, "perfbench")
                    and js == checks.row_json(key, name)):
                return False
    return True


def interactive_http(run: Run, run_dir: str):
    """Decks of short statements from nproc client threads against the
    statement server in its own process, at sf0.01."""
    sf_dir = run.data(0.01)
    con = checks.duckdb_tables(sf_dir, data.PROJECTIONS)
    params = {
        "orderkeys": [r[0] for r in con.execute("SELECT o_orderkey FROM orders ORDER BY 1").fetchall()],
        "max_lkey": con.execute("SELECT max(l_orderkey) FROM lineitem").fetchone()[0],
        "ncust": con.execute("SELECT count(*) FROM customer").fetchone()[0],
        "columns": {t: [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
                    for t in data.PROJECTIONS},
        "lineitem_rows": con.execute("SELECT count(*) FROM lineitem").fetchone()[0],
        # the server runs in this process's working directory (run.py)
        "warehouse": os.path.join(os.getcwd(), "spark-warehouse"),
    }
    params["udf_rows"] = min(UDF_ROWS, params["ncust"] // 2)  # tiny scale factors
    clients = len(os.sched_getaffinity(0))  # nproc, as SPARK_GRAFT_CPUS

    def window(tracer, decks, seed, tag):
        return _http_window(run, base, server.proc.pid, params, tracer, clients, decks, seed, tag)

    t0 = now()
    server = _Server(sf_dir, os.path.join(run_dir, "server.log"))
    try:
        ready = server.reply("READY")
        setup_s = now() - t0
        base = f"http://127.0.0.1:{ready['port']}"
        w0 = now()
        http_statement(base, "CREATE SCHEMA IF NOT EXISTS hive.perfbench")
        # a deck of its own, so the measured statements are not repeats
        warm = window(harness.Tracer(False), 1, f"warm-{run.seed}", "w")
        warmup_ms = (now() - w0) * 1e3
        untraced = window(harness.Tracer(False), run.rounds(DECK_S), run.seed, "u")
        traced, extra, overhead = None, [], []
        if run.traced:
            server.send("trace")
            server.reply("OK")
            traced = window(harness.Tracer(True), run.rounds(DECK_S), run.seed, "t")
            dump = os.path.join(run_dir, "server_spans.json")
            server.send(f"dump {dump}")
            server.reply("DUMPED")
            with open(dump) as f:
                _http_layers(traced, json.load(f))
            # one statement of each read kind from one client, run
            # untraced, traced and untraced again for the cost of tracing,
            # then in the server's own process for the cost of HTTP
            overhead, server_overhead = [], []
            for kind in ("point", "join", "agg", "scan_paged", "metadata", "udf"):
                # of the metadata statements, SHOW TABLES: the others take seconds
                s = next(x for x in traced.samples
                         if x.kind == kind and (kind != "metadata" or x.key == ("tables",)))
                lat = []
                for cmd in (None, "trace", "pause"):
                    if cmd:
                        server.send(cmd)
                        server.reply("OK")
                    r = http_statement(base, s.sql)
                    run.outcomes.ok()
                    lat.append(r["t1"] - r["t0"])
                    extra.append(Sample(kind, s.key, lat[-1], r["columns"], r["rows"], s.sql))
                overhead.append(sandwich(*lat))
                server.send("time " + json.dumps(s.sql))
                server_overhead.append(((lat[0] + lat[2]) / 2 - server.reply("TIME")) * 1e3)
            traced.layer["server.overhead_ms"] = [statistics.median(server_overhead)]
        rss = harness.jvm_peak_rss_mb(server.proc.pid)
    finally:
        server.close()
    for samples in (warm.samples, untraced.samples, traced.samples if traced else [], extra):
        _check_http(run, con, samples, params)
    if not run.traced:
        return end_to_end(setup_s, untraced), info(untraced)
    setup = {"session.start_ms": ready["session.start_ms"],
             "engine.for_dir_ms": ready["engine.for_dir_ms"]}
    return layer_figures(setup, warmup_ms, traced, rss, overhead), info(traced)
