"""FNV-1a 32 routing parity: Catalyst expression vs pure-Python
reference vs DuckDB SQL, plus the reference's distribution property
(test/integration/distributed_storage_test.go:577-593)."""

import duckdb
from pyspark.sql import functions as F

from torua_spark.functions.hashing import (
    fnv1a32,
    fnv1a32_py,
    fnv1a32_sql,
    shard_for_key,
)

HOSTILE_KEYS = [
    "simple",
    "user@example.com",
    "path/to/resource",
    "key-with-spaces here",
    "数字",
    "key:with:colons:1:2:3",
    "",
    "a" * 1024,
]


def test_fnv_matches_python_reference(spark):
    df = spark.createDataFrame([(k,) for k in HOSTILE_KEYS], "key string")
    got = {r["key"]: r["h"] for r in df.select("key", fnv1a32("key").alias("h")).collect()}
    for k in HOSTILE_KEYS:
        assert got[k] == fnv1a32_py(k), k


def test_fnv_sql_matches_python_reference():
    con = duckdb.connect()
    sql = f"SELECT key, {fnv1a32_sql('key')} AS h FROM (SELECT unnest(?) AS key)"
    got = dict(con.execute(sql, [HOSTILE_KEYS]).fetchall())
    for k in HOSTILE_KEYS:
        assert got[k] == fnv1a32_py(k), k


def test_shard_distribution_property(spark):
    # 1000 generated keys over 4 shards: each shard gets 125-375
    # (reference integration test bound).
    df = spark.range(1000).select(F.concat(F.lit("test-key-"), F.col("id")).alias("key"))
    counts = (
        df.groupBy(shard_for_key("key").alias("shard"))
        .count()
        .collect()
    )
    assert len(counts) == 4
    for row in counts:
        assert 125 <= row["count"] <= 375, dict(row.asDict())
