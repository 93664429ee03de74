"""Connector registration layer (sources.py): JDBC against embedded
Derby (the one JDBC engine Spark ships), and presto-kafka's offset-range
split semantics (KafkaRecordSet.java:144-160) over file-backed segments.
The aggregate round-trips themselves are oracle-verified via selfcheck
(source_jdbc_roundtrip / source_kafka_offset_range)."""

import pytest

from facebook_presto_spark import sources
from facebook_presto_spark.staging import scratch_path

SF = "/root/testdata/sf0.001"


def test_jdbc_roundtrip_preserves_rows(spark):
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    db = scratch_path("jdbc_derby_test")
    url = f"jdbc:derby:{db};create=true"
    sources.jdbc_write(nation, url, "NATION_T", driver=sources._DERBY_DRIVER)
    back = sources.register_jdbc(
        spark, "nation_jdbc_t", url, "NATION_T", driver=sources._DERBY_DRIVER
    )
    assert back.count() == nation.count()
    # registered as a queryable view, like a catalog entry
    assert spark.sql("SELECT count(*) AS c FROM nation_jdbc_t").collect()[0]["c"] == 25


def test_jdbc_parallel_split_read(spark):
    """partitionColumn split generation — the BaseJdbcClient QueryBuilder
    range analogue: N partitions, same rows."""
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    db = scratch_path("jdbc_derby_split")
    url = f"jdbc:derby:{db};create=true"
    sources.jdbc_write(nation, url, "NATION_S", driver=sources._DERBY_DRIVER)
    back = sources.register_jdbc(
        spark, "nation_jdbc_s", url, "NATION_S",
        driver=sources._DERBY_DRIVER,
        partitionColumn="N_NATIONKEY", lowerBound="0", upperBound="25",
        numPartitions="4",
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 25


def test_kafka_segment_offset_ranges_are_half_open(spark):
    df = spark.range(0, 100).selectExpr(
        "CAST(id % 2 AS INT) AS _partition_id",
        "CAST(id DIV 2 AS BIGINT) AS _partition_offset",
        "CAST(id AS STRING) AS _key",
        "CAST(id AS STRING) AS _message",
    )
    path = scratch_path("kafka_seg_test")
    df.write.mode("overwrite").parquet(path)
    got = sources.kafka_segment_read(spark, path, {0: (10, 20), 1: (0, 5)})
    rows = got.collect()
    p0 = sorted(r["_partition_offset"] for r in rows if r["_partition_id"] == 0)
    p1 = sorted(r["_partition_offset"] for r in rows if r["_partition_id"] == 1)
    assert p0 == list(range(10, 20))  # start inclusive, end exclusive
    assert p1 == list(range(0, 5))
    # a partition with no declared range contributes nothing
    got = sources.kafka_segment_read(spark, path, {0: (0, 3)})
    assert {r["_partition_id"] for r in got.collect()} == {0}


def test_register_kafka_raises_clearly_without_connector(spark):
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        sources.register_kafka(
            spark, "t", "localhost:9092", "topic", {0: (0, 10)}
        )
