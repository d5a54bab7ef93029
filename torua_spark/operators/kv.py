"""KV surface operators (reference §2.A A1-A8).

The reference's CRUD semantics (internal/storage/store.go:297-444,
internal/shard/shard.go:257-368,573-630) re-expressed as set-oriented
DataFrame transforms. Each op is a *batch* analog of the serving-path
op: point ops become key filters, upsert becomes last-writer-wins
window dedup, delete becomes an anti-join, range scan a sorted range
predicate.

Scale notes (100 TB): every operator here is shuffle-free except
``upsert`` (one shuffle on key — unavoidable for last-writer-wins; with
a key-bucketed table even that shuffle disappears) and ``stats`` (one
partial+final aggregation). Point lookups filter on ``key`` only: over
parquet Spark pushes that predicate into the scan, where row-group
min/max statistics skip data, but every shard directory is still
listed. Directory pruning — the analog of the reference's coordinator
routing (cmd/coordinator/main.go:530-533) — needs a filter on the
shard partition column, which only ``shard_hint`` reads add.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from torua_spark.functions.hashing import shard_for_key


def point_get(kv: DataFrame, key: str) -> DataFrame:
    """A1 — Get(key); empty result == reference 404 (store.go:297-310)."""
    return kv.filter(F.col("key") == F.lit(key))


def multi_get(kv: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A1×n — batch point lookup via IN-list (semi-join for huge lists)."""
    return kv.filter(F.col("key").isin(list(keys)))


def upsert(kv: DataFrame, updates: DataFrame) -> DataFrame:
    """A2 — last-writer-wins overwrite (store.go:348-358).

    ``updates`` must carry (key, value). Batch semantics: any key in
    ``updates`` replaces the base row; new keys are inserted. Implemented
    as union + row_number window keyed on an explicit version column so
    the winner is deterministic. A batch that repeats a key has no
    arrival order (the reference's sequential-PUT order doesn't exist
    in a set), so ties within the batch break on greatest value —
    deterministic last-writer-wins; callers that care about intra-batch
    ordering should pre-dedup with ``scd2_history``'s (ts, seq) keys.
    """
    base = kv.select("key", "value", F.lit(0).alias("_version"))
    upd = updates.select("key", "value", F.lit(1).alias("_version"))
    w = Window.partitionBy("key").orderBy(
        F.col("_version").desc(), F.col("value").desc()
    )
    return (
        base.unionByName(upd)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("key", "value")
    )


def scd2_history(updates: DataFrame) -> DataFrame:
    """A2 extended to FULL HISTORY — the SCD2 (slowly-changing
    dimension) view of a key's update stream: every write becomes a
    versioned row with a [valid_from, valid_to) interval, the last
    one open-ended (the LWW winner `upsert` keeps).

    ``updates`` carries (key, value, ts, seq) where seq breaks ts
    ties deterministically. One window per key: valid_to = next
    write's ts (lead). At 100 TB this is one shuffle on key — and the
    window never holds more than a key's own history."""
    w = Window.partitionBy("key").orderBy("ts", "seq")
    return updates.select(
        "key",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def delete(kv: DataFrame, tombstones: DataFrame) -> DataFrame:
    """A3 — idempotent delete (store.go:391-397) as left_anti join."""
    return kv.join(tombstones.select("key"), "key", "left_anti")


def list_keys(kv: DataFrame) -> DataFrame:
    """A4 — List() (store.go:435-444); order unspecified in the
    reference, so no sort is forced (saves a full exchange at scale)."""
    return kv.select("key")


def range_scan(kv: DataFrame, start: str, end: str) -> DataFrame:
    """A5 — lexicographic [start, end), sorted (shard.go:573-587).

    The sort is part of the reference contract; at scale this is a
    range-partitioned sort only over the filtered slice (Catalyst pushes
    both predicates into the parquet scan as min/max-prunable filters).
    """
    return (
        kv.filter((F.col("key") >= F.lit(start)) & (F.col("key") < F.lit(end)))
        .select("key")
        .orderBy("key")
    )


def delete_range(kv: DataFrame, start: str, end: str) -> DataFrame:
    """A6 — DeleteRange survivors (shard.go:622-630): complement filter.

    The reference returns the deleted count; batch analog = survivors
    (count is derivable as input_rows - output_rows, and the declared
    query checks survivors which pins strictly more semantics).
    """
    return kv.filter(~((F.col("key") >= F.lit(start)) & (F.col("key") < F.lit(end))))


def stats(kv: DataFrame, num_shards: int = 4) -> DataFrame:
    """A7 — per-shard Stats{Keys, Bytes} (store.go:477-490) as a
    partial+final hash aggregate grouped by the routing expression."""
    return (
        kv.groupBy(shard_for_key(F.col("key"), num_shards).alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum(F.octet_length("value")).alias("bytes"),
        )
    )


def owns_key(num_shards: int, shard_id: int) -> Column:
    """A11 — node-side ownership predicate (shard.go:402-414)."""
    return shard_for_key(F.col("key"), num_shards) == F.lit(shard_id)


def shard_hint_filter(num_shards: int, shard_ids: list[int]) -> Column:
    """Query-message ``shard_hint`` (ARCHITECTURE.md:327-339 — a query
    carries ``"shard_hint": [1, 2, 3]`` to scope execution to named
    shards): the ownership predicate generalized to a hint SET. On the
    at-rest shard-partitioned layout the engine filters the partition
    column instead, which directory-prunes (see
    ToruaEngine.scan/list_keys)."""
    return shard_for_key(F.col("key"), num_shards).isin(
        [int(s) for s in shard_ids]
    )
