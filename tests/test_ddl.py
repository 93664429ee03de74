"""DDL/DML tests: write paths (CTAS/INSERT/DELETE) and metadata ops."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from facebook_presto_spark import ddl


def test_ctas_partitioned(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    path = str(tmp_path / "ctas")
    table = ddl.create_table_as(
        spark, path, orders.select("o_orderkey", "o_orderpriority"),
        partition_by=["o_orderpriority"],
    )
    assert table.count() == orders.count()
    # hive-style partition directories exist → scans on priority prune
    assert any(d.startswith("o_orderpriority=") for d in os.listdir(path))


def test_insert_appends(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    path = str(tmp_path / "ins")
    ddl.create_table_as(spark, path, nation.filter(F.col("n_nationkey") < 10))
    after = ddl.insert_into(spark, path, nation.filter(F.col("n_nationkey") >= 10))
    assert after.count() == nation.count()
    # schema-by-name alignment holds even with reordered input columns
    reordered = nation.select("n_name", "n_regionkey", "n_nationkey")
    assert ddl.insert_into(spark, path, reordered).count() == 2 * nation.count()


def test_delete_where(spark, sf_dir, tmp_path):
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    path = str(tmp_path / "del")
    ddl.create_table_as(spark, path, cust)
    neg = cust.filter(F.col("c_acctbal") < 0).count()
    assert ddl.delete_where(spark, path, "c_acctbal < 0") == neg
    left = spark.read.parquet(path)
    assert left.count() == cust.count() - neg
    assert left.filter(F.col("c_acctbal") < 0).count() == 0
    # no-match delete is a no-op (no rewrite)
    assert ddl.delete_where(spark, path, "c_acctbal < -1e18") == 0


def test_delete_where_null_predicate(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id bigint, v double"
    )
    path = str(tmp_path / "delnull")
    ddl.create_table_as(spark, path, df)
    # DELETE removes rows where the predicate is TRUE; the NULL-predicate
    # row (id=2) must survive the rewrite
    assert ddl.delete_where(spark, path, "v < 0") == 1
    assert {r.id for r in spark.read.parquet(path).collect()} == {1, 2}


def test_show_and_describe(spark, sf_dir):
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).createOrReplaceTempView(
        "__ddl_region"
    )
    assert "__ddl_region" in ddl.show_tables(spark)
    cols = {r.col_name: r.data_type for r in ddl.describe_table(spark, "__ddl_region")}
    assert cols.get("r_regionkey") in ("int", "bigint")


def test_explain_analyze(spark, sf_dir):
    df = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_totalprice") > 0)
        .groupBy("o_orderpriority").count()
    )
    text = ddl.explain_analyze(df)
    assert "AdaptiveSparkPlan" in text or "HashAggregate" in text


def test_alter_table_statements(spark, sf_dir):
    # SqlBase.g4:52-58 — renameTable / renameColumn / dropColumn / addColumn
    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    spark.range(3).selectExpr("id AS a", "id * 2 AS b") \
        .createOrReplaceTempView("alter_t")
    engine.sql("ALTER TABLE alter_t ADD COLUMN c VARCHAR")
    assert spark.table("alter_t").columns == ["a", "b", "c"]
    engine.sql("ALTER TABLE alter_t RENAME COLUMN b TO bb")
    assert spark.table("alter_t").columns == ["a", "bb", "c"]
    engine.sql("ALTER TABLE alter_t DROP COLUMN c")
    assert spark.table("alter_t").columns == ["a", "bb"]
    engine.sql("ALTER TABLE alter_t RENAME TO alter_t2")
    assert spark.table("alter_t2").count() == 3
    assert not spark.catalog.tableExists("alter_t")
    spark.catalog.dropTempView("alter_t2")


def test_explain_type_io(spark, sf_dir):
    """EXPLAIN (TYPE IO) reports the executed scan surface in the
    IOPlanPrinter JSON shape: tables, pruned read columns with Presto
    type names, and the reader-pushed filters."""
    import json

    from facebook_presto_spark.engine import PrestoSparkEngine

    eng = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    row = eng.sql(
        "EXPLAIN (TYPE IO) SELECT l_quantity FROM lineitem "
        "WHERE l_orderkey > 100"
    ).collect()[0]
    d = json.loads(row[0])
    (info,) = d["inputTableColumnInfos"]
    assert info["table"]["schemaTable"]["table"] == "lineitem"
    cols = {c["columnName"]: c["typeSignature"] for c in info["columnConstraints"]}
    # column pruning reached the scan: only the referenced columns read
    assert set(cols) == {"l_quantity", "l_orderkey"}
    assert cols["l_orderkey"] == "bigint"
    assert any(f.startswith("GreaterThan(l_orderkey") for f in info["pushedFilters"])
    assert d["outputTable"] is None


def test_view_introspection(spark, sf_dir):
    """Round 4: CREATE VIEW records its Presto-dialect definition for
    information_schema.views + SHOW CREATE VIEW (MetadataManager.getViews
    / ShowQueriesRewrite.visitShowCreate), and the views flip to
    table_type='VIEW' in information_schema.tables."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    engine.sql("CREATE VIEW v_cheap AS SELECT n_name FROM nation WHERE n_nationkey < 5")
    rows = engine.sql(
        "SELECT table_name, view_definition FROM information_schema.views"
    ).collect()
    defs = {r.table_name: r.view_definition for r in rows}
    assert "n_nationkey < 5" in defs.get("v_cheap", "")
    kinds = {
        r.table_name: r.table_type
        for r in engine.sql(
            "SELECT table_name, table_type FROM information_schema.tables"
        ).collect()
    }
    assert kinds.get("v_cheap") == "VIEW"
    assert kinds.get("nation") == "BASE TABLE"
    text = engine.sql("SHOW CREATE VIEW v_cheap").first()[0]
    assert text.startswith("CREATE VIEW v_cheap AS")
    assert "SELECT n_name FROM nation" in text
    # DROP removes the definition
    engine.sql("DROP VIEW v_cheap")
    rows = engine.sql(
        "SELECT table_name FROM information_schema.views"
    ).collect()
    assert all(r.table_name != "v_cheap" for r in rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not exist"):
        engine.sql("SHOW CREATE VIEW v_cheap")


def test_concurrent_metadata_statements(spark, sf_dir):
    """Metadata statements rebuild their information_schema / system.*
    views on every call; four threads issuing them at once must all
    succeed (concurrent CREATE OR REPLACE VIEW of one view raced into
    TABLE_OR_VIEW_ALREADY_EXISTS)."""
    import sys
    import threading

    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    statements = [
        "SELECT count(*) FROM information_schema.tables",
        "SELECT count(*) FROM information_schema.columns",
        "SELECT count(*) FROM system.jdbc.tables",
        "SELECT count(*) FROM system.metadata.catalogs",
    ]
    errors = []
    barrier = threading.Barrier(4)

    def run():
        try:
            barrier.wait(timeout=60)
            for i in range(4):  # every thread on the same view at once
                sql = statements[i % len(statements)]
                assert engine.sql(sql).first()[0] > 0
        except Exception as e:  # surfaced by the assertion below
            errors.append(str(e)[:300])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


def test_show_create_table(spark, sf_dir):
    """ShowQueriesRewrite.visitShowCreate TABLE arm: Presto-dialect DDL
    rendered from live schema with StandardTypes names."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    text = engine.sql("SHOW CREATE TABLE region").collect()[0]["Create Table"]
    assert text.startswith("CREATE TABLE region (")
    assert '"r_regionkey" integer' in text and '"r_name" varchar' in text
    engine.sql("CREATE VIEW scv_v AS SELECT 1 AS one")
    try:
        import pytest

        with pytest.raises(ValueError, match="SHOW CREATE VIEW"):
            engine.sql("SHOW CREATE TABLE scv_v")
    finally:
        engine.sql("DROP VIEW scv_v")


def test_show_stats_for_query(spark, sf_dir):
    """showStatsForQuery (SqlBase.g4): stats of the result relation."""
    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    rows = engine.sql(
        "SHOW STATS FOR (SELECT o_orderkey FROM orders WHERE o_orderkey < 100)"
    ).collect()
    by_col = {r["column_name"]: r for r in rows}
    assert set(by_col) == {"o_orderkey", None}
    summary = by_col[None]
    exact = engine.sql(
        "SELECT count(*) AS n FROM orders WHERE o_orderkey < 100"
    ).collect()[0]["n"]
    assert summary["row_count"] == float(exact)
    assert float(by_col["o_orderkey"]["high_value"]) < 100


def test_alter_schema_rename_memory_only(spark, sf_dir):
    import pytest

    from facebook_presto_spark.engine import PrestoSparkEngine

    engine = PrestoSparkEngine.for_dir(sf_dir, spark=spark)
    engine.sql("CREATE SCHEMA IF NOT EXISTS memory.before")
    engine.sql("DROP TABLE IF EXISTS memory.before.t")
    engine.sql("CREATE TABLE memory.before.t AS SELECT * FROM region")
    engine.sql("ALTER SCHEMA memory.before RENAME TO memory.after")
    assert engine.sql("SELECT count(*) AS n FROM memory.after.t") \
        .collect()[0]["n"] == 5
    with pytest.raises(Exception, match="does not exist"):
        engine.sql("SELECT * FROM memory.before.t").collect()
    engine.sql("DROP TABLE memory.after.t")
    engine.sql("DROP SCHEMA memory.after")
    with pytest.raises(ValueError, match="does not support renaming"):
        engine.sql("ALTER SCHEMA default RENAME TO other")
