"""Starting, driving and stopping the engine under test.

Every call below goes through the engine's public functions
(``session.get_spark``, ``PrestoSparkEngine.for_dir`` / ``.sql``,
``sqlfront.translate``); the timing and Spark-counter reads around them
live here, in the benchmark, and nothing inside the engine is changed.
"""

from __future__ import annotations

import os
import subprocess
import time
from collections import defaultdict

import harness
from harness import now


def start(sf_dir: str, engine_cls=None):
    """Start a Spark session and an engine over ``sf_dir``.  Returns the
    engine and its set-up timings (imports count towards set-up)."""
    t0 = now()
    from facebook_presto_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = now()
    if engine_cls is None:
        from facebook_presto_spark.engine import PrestoSparkEngine as engine_cls
    eng = engine_cls.for_dir(sf_dir, spark)
    t2 = now()
    return eng, {
        "setup_s": t2 - t0,
        "session.start_ms": (t1 - t0) * 1e3,
        "engine.for_dir_ms": (t2 - t1) * 1e3,
    }


def stop(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers that
    JVM started, and wait until each has exited."""
    me = os.getpid()
    workers = [p for p in harness.process_tree(me)
               if harness.is_python_worker(harness._cmdline(p))]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is being torn down anyway
        pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


class Statements:
    """Runs statements in this process: the Python driver is the client.

    Untraced, a statement is ``eng.sql(text).collect()`` timed from
    submit to last row.  Traced, the same call is split into spans
    (``engine.sql``, ``catalyst.plan``, ``result.collect`` and the
    executor stages under it), ``sqlfront.translate`` is timed on the
    same text outside the statement, and the statement's stages are read
    from Spark's status store once it has finished."""

    def __init__(self, eng, tracer: harness.Tracer):
        self.eng = eng
        self.tracer = tracer
        self.layer: dict[str, list[float]] = defaultdict(list)
        self._stages = harness.StageReader(eng.spark) if tracer.enabled else None
        self._epoch = time.time() - now()  # perf_counter → epoch seconds

    def run(self, stmt: int, sql: str):
        """Run one statement; returns (latency seconds, columns, rows)."""
        if not self.tracer.enabled:
            t0 = now()
            df = self.eng.sql(sql)
            rows = df.collect()
            return now() - t0, df.columns, rows
        from facebook_presto_spark.sqlfront import translate

        a = now()
        translate(sql)
        self.layer["sqlfront.translate_ms"].append((now() - a) * 1e3)
        group = f"perfbench-{stmt}"
        self._stages.begin(group)
        try:
            t0 = now()
            df = self.eng.sql(sql)
            t1 = now()
            phases = harness.catalyst_phases(df)
            t2 = now()
            rows = df.collect()
            t3 = now()
        finally:
            self._stages.end()
        root = self.tracer.add("statement", t0, t3, stmt)
        self.tracer.add("engine.sql", t0, t1, stmt, root)
        self.tracer.add("catalyst.plan", t1, t2, stmt, root)
        self.tracer.add("result.collect", t2, t3, stmt, root)
        ex = harness.aggregate_stages(self._stages.read(group))
        record_exec(self.layer, ex)
        add_exec_spans(self.tracer, stmt, root,
                       [(s / 1e3 - self._epoch, e / 1e3 - self._epoch) for s, e in ex["intervals"]])
        self.layer["engine.sql_ms"].append((t1 - t0) * 1e3)
        for name, ms in phases.items():
            self.layer[f"catalyst.{name}_ms"].append(ms)
        self.layer["catalyst.total_ms"].append(sum(phases.values()))
        self.layer["result.collect_ms"].append((t3 - t2) * 1e3)
        self.layer["result.rows"].append(len(rows))
        return t3 - t0, df.columns, rows


def record_exec(layer: dict, ex: dict) -> None:
    for k in ("stages", "tasks", "run_ms", "cpu_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "input_bytes"):
        layer[f"exec.{k}"].append(ex[k])


def add_exec_spans(tracer: harness.Tracer, stmt: int, root: int | None, intervals) -> None:
    """Add a statement's executor stage intervals (merged where they
    overlap) as ``exec`` spans, each under the innermost span of the
    statement that contains its start."""
    if root is None:
        return
    mine = [(i, s) for i, s in enumerate(tracer.spans) if s.stmt == stmt]
    for s, e in merge(intervals):
        parent = root
        for i, sp in mine:
            if sp.start <= s <= sp.end and sp.start >= tracer.spans[parent].start:
                parent = i
        tracer.add("exec", s, e, stmt, parent)


def merge(intervals):
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out
