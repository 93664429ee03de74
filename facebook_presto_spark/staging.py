"""Where a table's files come from (the reference's ConnectorMetadata).

``SCRATCH`` is the checkout's ``.scratch/``: derived data only (input
re-layouts, DuckDB-generated datasets, write-read fixtures), so deleting
it costs only the rebuild.  Writers fill a per-attempt tmp dir and
publish it with one ``rename``: no reader sees a half-written directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import uuid
import weakref
from collections.abc import Callable, Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# guards the memos below; re-entrant because registering views may
# stage the files they read
_LOCK = threading.RLock()


def scratch_path(name: str) -> str:
    """``SCRATCH/name``, emptied, for a fixture rewritten on every run."""
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    return path


def generate_once(name: str, generate: str, tables: Iterable[str],
                  project: Callable[[object, str], str] = lambda con, t: "*",
                  ) -> str:
    """Return ``SCRATCH/name``, first running the DuckDB statement
    ``generate`` and exporting ``SELECT <project(con, t)> FROM t`` to
    ``t.parquet`` for each table if no complete copy exists.  ``_DONE``
    is written last, so an interrupted run is regenerated, not reused."""
    dest = os.path.join(SCRATCH, name)
    done = os.path.join(dest, "_DONE")
    if os.path.exists(done):
        return dest
    with _LOCK:
        if os.path.exists(done):
            return dest
        import duckdb

        tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
        os.makedirs(tmp)
        try:
            with duckdb.connect() as con:
                con.execute(generate)
                for t in tables:
                    con.execute(
                        f"COPY (SELECT {project(con, t)} FROM {t}) "
                        f"TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
                    )
            open(os.path.join(tmp, "_DONE"), "w").close()
            if not os.path.exists(done):  # left by an interrupted run
                shutil.rmtree(dest, ignore_errors=True)
            try:
                os.rename(tmp, dest)
            except OSError:  # another process published it first
                if not os.path.exists(done):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return dest


# Split-staging for scan parallelism (guide §6): the driver's testdata is
# ONE single-row-group file per table, so each scan plans ONE task.  Larger
# inputs are re-staged once per file identity into size/1.5 MB part files,
# a layout change checked by a value digest; the oracle reads the original.
_SPLIT_MIN_BYTES = 2 * 1024 * 1024
# ~1.5 MB per part: 350 KB parts (32 files) measured WORSE under this
# box's scheduling jitter (§2.2: fewer, larger map tasks)
_SPLIT_TARGET_BYTES = 1536 * 1024
_SPLIT_MAX_FILES = 16
# decides what a read of the source returns (TIMESTAMP(NANOS) as LONG),
# so what the copy stores: part of the copy's identity
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_split: dict[str, str] = {}


def _digest(df: DataFrame) -> Row:
    """Order-insensitive: count, decimal (overflow-free) sum and bit_xor
    of a 64-bit hash over all columns."""
    h = F.xxhash64(*df.columns)
    return df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)")),
                  F.bit_xor(h)).first()


def split_staged(spark: SparkSession, path: str,
                 files: int | None = None) -> str:
    """Return ``path`` or a multi-file re-staging of it (see above);
    ``files`` forces that many parts whatever the size (per-row CPU-bound
    work such as BroadcastNestedLoopJoin runs per stream partition)."""
    try:
        st = os.stat(path)
    except OSError:
        return path
    if files is None:
        if st.st_size < _SPLIT_MIN_BYTES:
            return path
        files = int(min(_SPLIT_MAX_FILES,
                        max(4, st.st_size // _SPLIT_TARGET_BYTES)))
    ident = json.dumps(
        {"src": path, "size": st.st_size, "mtime_ns": st.st_mtime_ns,
         "files": files,
         _NANOS_AS_LONG: spark.conf.get(_NANOS_AS_LONG, "false")},
        sort_keys=True)
    if ident not in _split:
        with _LOCK:
            if ident not in _split:
                _split[ident] = _stage_split(spark, path, files, ident)
    return _split[ident]


def _stage_split(spark: SparkSession, path: str, files: int,
                 ident: str) -> str:
    stem = os.path.basename(path).removesuffix(".parquet")
    key = hashlib.sha1(ident.encode()).hexdigest()[:12]
    dest = os.path.join(SCRATCH, "split", f"{stem}_{key}")
    marker = os.path.join(dest, "_staged.json")
    if os.path.exists(marker):
        return dest
    tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
    try:
        src = spark.read.parquet(path)
        src.repartition(files).write.parquet(tmp)
        out = spark.read.parquet(tmp)
        if out.schema != src.schema or _digest(out) != _digest(src):
            return path
        with open(os.path.join(tmp, "_staged.json"), "w") as f:
            f.write(ident)
        try:
            os.rename(tmp, dest)
        except OSError:  # another process published it first
            if not os.path.exists(marker):
                return path
        return dest
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# TEMP views are SparkSession-scoped, so the memo is keyed on the session
# object, weakly: a dropped session's entry goes with it, and a new one
# cannot inherit it as with a recycled id().  It holds schemas, not
# DataFrames, which would keep their session alive.
_views: weakref.WeakKeyDictionary[SparkSession, dict] = \
    weakref.WeakKeyDictionary()


def session_views(spark: SparkSession, key: object,
                  register: Callable[[], dict[str, DataFrame]],
                  ) -> dict[str, DataFrame]:
    """Run ``register`` (which creates temp views and returns them by
    name) once per ``(spark, key)``; later calls return the views, while
    each still has its memoized schema: callers may drop a view or SHADOW
    its name.  ``spark.table`` reads no parquet footers."""
    with _LOCK:
        memo = _views.setdefault(spark, {})
        schemas = memo.get(key)
        if schemas is not None:
            try:
                views = {name: spark.table(name) for name in schemas}
                if {n: v.schema for n, v in views.items()} == schemas:
                    return views
            except AnalysisException:  # a view was dropped
                pass
        views = register()
        memo[key] = {name: df.schema for name, df in views.items()}
        # registrations under other keys naming the same views are now
        # shadowed (same schemas, other files: sf0.001 vs sf0.01)
        for other in [k for k, v in memo.items()
                      if k != key and v.keys() & views.keys()]:
            del memo[other]
        return views
