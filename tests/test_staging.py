"""The staging layer (staging.py): concurrent split-staging, recovery of
an unfinished generated dataset, the per-session view memo, and the
tpch_tiny connector views — all on synthetic or generated data, so
nothing here needs the reference tree."""

from __future__ import annotations

import gc
import glob
import os
import shutil
import sys
import threading
import uuid
import weakref

import pyarrow as pa
import pyarrow.parquet as pq

from facebook_presto_spark import staging

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_source(tmp_path) -> str:
    n = 5000
    path = str(tmp_path / f"race_{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(pa.table({
        "k": pa.array(range(n), pa.int64()),
        "s": pa.array([f"v{i % 97}" if i % 11 else None for i in range(n)]),
        "d": pa.array([i / 7 for i in range(n)]),
        "a": pa.array([[float(i), float(-i)] for i in range(n)],
                      pa.list_(pa.float32())),
    }), path)
    return path


def _staged_dirs(path: str) -> list[str]:
    stem = os.path.basename(path).removesuffix(".parquet")
    return glob.glob(os.path.join(staging.SCRATCH, "split", f"{stem}_*"))


def test_concurrent_split_staging_publishes_one_copy(spark, tmp_path):
    path = _write_source(tmp_path)
    results, errors = [], []
    barrier = threading.Barrier(8)

    def stage():
        try:
            barrier.wait(timeout=60)
            results.append(staging.split_staged(spark, path, files=4))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=stage) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        dirs = _staged_dirs(path)
        assert len(dirs) == 1 and ".tmp" not in dirs[0]
        assert set(results) == {dirs[0]}
        assert len(glob.glob(os.path.join(dirs[0], "part-*.parquet"))) == 4
        src, out = spark.read.parquet(path), spark.read.parquet(dirs[0])
        assert staging._digest(out) == staging._digest(src)
        assert sorted(out.collect()) == sorted(src.collect())
    finally:
        for d in _staged_dirs(path):
            shutil.rmtree(d, ignore_errors=True)


def test_digest_mismatch_keeps_original_path(spark, tmp_path, monkeypatch):
    path = _write_source(tmp_path)
    digests = iter(range(10))
    monkeypatch.setattr(staging, "_digest", lambda df: next(digests))
    assert staging.split_staged(spark, path, files=2) == path
    assert _staged_dirs(path) == []


def test_unfinished_dataset_is_regenerated(tmp_path, monkeypatch):
    import duckdb

    monkeypatch.setattr(staging, "SCRATCH", str(tmp_path))
    # an interrupted run: parquet present, no _DONE marker
    half = tmp_path / "ds"
    half.mkdir()
    (half / "t.parquet").write_bytes(b"truncated")
    (half / "stale.parquet").write_bytes(b"truncated")
    dest = staging.generate_once(
        "ds", "CREATE TABLE t AS SELECT range AS x FROM range(10)", ["t"])
    assert dest == str(half)
    assert sorted(os.listdir(dest)) == ["_DONE", "t.parquet"]
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{dest}/t.parquet')").fetchone()
    assert n == (10,)
    # a finished dataset is reused: this statement would fail if run
    assert staging.generate_once("ds", "SELECT error('regenerated')",
                                 ["t"]) == dest
    assert [p for p in os.listdir(tmp_path) if ".tmp" in p] == []


def test_new_session_gets_its_own_views(spark, sf_dir):
    from facebook_presto_spark.catalog import register_views

    calls = []

    def probe(session):
        def register():
            calls.append(session)
            session.range(3).createOrReplaceTempView("staging_probe")
            return {"staging_probe": session.table("staging_probe")}
        return register

    s1 = spark.newSession()
    staging.session_views(s1, "probe", probe(s1))
    staging.session_views(s1, "probe", probe(s1))  # memo hit
    register_views(s1, sf_dir)
    assert len(calls) == 1
    dead, memoized = weakref.ref(s1), len(staging._views)
    del s1
    calls.clear()
    # the newest session is pinned by pyspark's RDD.toDF patch, so the
    # old one becomes collectable once another session exists
    s2 = spark.newSession()
    gc.collect()
    assert dead() is None and len(staging._views) == memoized - 1
    staging.session_views(s2, "probe", probe(s2))
    assert calls == [s2]
    assert s2.table("staging_probe").count() == 3
    views = register_views(s2, sf_dir)
    assert "nation" in views and s2.catalog.tableExists("nation")
    assert s2.table("nation").count() == views["nation"].count()


def test_tpch_tiny_connector_views_match_duckdb(spark, sf_dir):
    import duckdb

    from facebook_presto_spark.catalog import register_views
    from facebook_presto_spark.compat import tpch_tiny

    con = duckdb.connect()
    try:
        tpch_tiny.register_connector_views(spark, con)
        counts = {t: (spark.table(t).count(),
                      con.execute(f"SELECT count(*) FROM {t}").fetchone()[0])
                  for t in tpch_tiny.TABLES}
        assert all(got == want > 0 for got, want in counts.values()), counts
        assert "name" in spark.table("nation").columns
    finally:
        con.close()
        for t in tpch_tiny.TABLES:
            spark.catalog.dropTempView(t)
        register_views(spark, sf_dir)
    assert "n_name" in spark.table("nation").columns


def test_no_checkout_path_literals():
    """Code finds the checkout from its own location, so a second
    checkout (a scratch copy, a benchmark worktree) never imports or
    writes into another one: no file spells out this checkout's path."""
    literal = ROOT
    hits = []
    for top in ("facebook_presto_spark", "tests", "tools"):
        for p in glob.glob(os.path.join(ROOT, top, "**", "*.py"),
                           recursive=True):
            with open(p, encoding="utf-8") as f:
                hits += [f"{p}:{i}" for i, line in enumerate(f, 1)
                         if literal in line]
    assert hits == []
