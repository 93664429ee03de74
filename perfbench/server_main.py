"""The statement server under test, in a process of its own.

Started by the ``interactive_http`` workload as
``python3 server_main.py <table dir>``.  It builds the engine, serves
``/v1/statement`` with ``facebook_presto_spark.server.serve`` and talks
to the load generator over stdin/stdout, one command per line; its
replies start with ``PB `` so Spark's own console output cannot be
mistaken for them:

- ``PB READY {port, set-up timings}`` once the server is bound;
- ``trace`` turns on per-statement recording (the traced run) and
  ``pause`` turns it off; both answer ``PB OK``;
- ``time <json sql>`` runs the statement in this process three times and
  answers ``PB TIME <median seconds>``, the in-process half of the
  server-overhead measurement;
- ``dump <path>`` stops recording, writes the recorded statements with their Spark stage
  counters to ``path`` and answers ``PB DUMPED``;
- ``quit`` (or end of input) stops the server, Spark and its JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import engine_io  # noqa: E402
import harness  # noqa: E402
from harness import now  # noqa: E402


def _emit(kind: str, payload=None) -> None:
    sys.stdout.write(f"PB {kind} {json.dumps(payload)}\n")
    sys.stdout.flush()


def _traced_engine_cls():
    from facebook_presto_spark.engine import PrestoSparkEngine

    class TracedEngine(PrestoSparkEngine):
        """Times each call into ``PrestoSparkEngine.sql`` from outside it
        and tags the statement's Spark jobs with a job group.  The jobs
        that page the result out start from this thread's iterator, so
        they inherit the group."""

        recording = False

        def sql(self, presto_sql):
            if not self.recording:
                return super().sql(presto_sql)
            from facebook_presto_spark.sqlfront import translate

            a = now()
            translate(presto_sql)
            b = now()
            with self._lock:
                self._seq += 1
                group = f"perfbench-http-{self._seq}"
            self.spark.sparkContext.setJobGroup(group, group)
            t0 = now()
            df = super().sql(presto_sql)
            t1 = now()
            phases = harness.catalyst_phases(df)
            t2 = now()
            with self._lock:
                self.records.append({
                    "sql": presto_sql, "group": group, "t0": t0, "t1": t1,
                    "t2": t2, "translate_ms": (b - a) * 1e3, "phases": phases,
                })
            return df

        def start_recording(self) -> None:
            self._lock = threading.Lock()
            self._seq = getattr(self, "_seq", 0)  # job groups stay unique
            self.records = []
            self.recording = True

    return TracedEngine


def main() -> int:
    sf_dir = sys.argv[1]
    eng, setup = engine_io.start(sf_dir, _traced_engine_cls())
    from facebook_presto_spark.server import serve

    srv = serve(eng)
    _emit("READY", {"port": srv.server_port, **setup})
    try:
        for line in sys.stdin:
            cmd, _, arg = line.strip().partition(" ")
            if cmd == "trace":
                eng.start_recording()
                _emit("OK")
            elif cmd == "pause":
                eng.recording = False
                _emit("OK")
            elif cmd == "time":
                sql = json.loads(arg)
                times = []
                for _ in range(3):
                    t0 = now()
                    eng.sql(sql).collect()
                    times.append(now() - t0)
                _emit("TIME", statistics.median(times))
            elif cmd == "dump":
                eng.recording = False
                _dump(eng, arg)
                _emit("DUMPED")
            elif cmd == "quit":
                break
    finally:
        srv.shutdown()
        srv.server_close()
        engine_io.stop(eng.spark)
    return 0


def _dump(eng, path: str) -> None:
    reader = harness.StageReader(eng.spark)
    epoch = time.time() - now()
    out = []
    for rec in getattr(eng, "records", []):
        ex = harness.aggregate_stages(reader.read(rec["group"]))
        ex["intervals"] = [(s / 1e3 - epoch, e / 1e3 - epoch) for s, e in ex["intervals"]]
        out.append({**rec, "exec": ex})
    with open(path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    raise SystemExit(main())
