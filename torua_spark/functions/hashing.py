"""Hashing expressions — the routing layer of the engine.

The reference routes every key with FNV-1a 32-bit modulo numShards
(reference: internal/coordinator/shard_registry.go:372-379, identical
node-side ownership check internal/shard/shard.go:402-414). Here the
hash is a *pure Catalyst expression* built from ``aggregate`` over the
key's UTF-8 bytes — JVM-side, whole-stage-codegen'd, no Python UDF —
so routing projections, ownership filters, and shard-distribution
aggregations all stay on the fast path and scale linearly with input.

At 100 TB the same expression is what you'd pass to
``df.repartition(n, shard_for_key(...))`` or ``bucketBy`` to get
byte-identical placement to the reference cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from torua_spark.constants import FNV_MOD, FNV_OFFSET_BASIS, FNV_PRIME, NUM_SHARDS


def fnv1a32(col: Column | str) -> Column:
    """FNV-1a 32-bit hash of a string column as a non-negative BIGINT.

    Matches the reference implementation byte-for-byte over UTF-8 input:
    ``h = 2166136261; for b in bytes: h = ((h ^ b) * 16777619) mod 2^32``.
    Intermediate products stay below 2^56 so BIGINT arithmetic is exact.
    """
    col = F.col(col) if isinstance(col, str) else col
    b = F.encode(col, "UTF-8")
    offset = F.lit(FNV_OFFSET_BASIS).cast("long")
    prime = F.lit(FNV_PRIME).cast("long")
    mod = F.lit(FNV_MOD).cast("long")

    def step(acc: Column, i: Column) -> Column:
        byte = F.conv(F.hex(F.substring(b, i, F.lit(1))), 16, 10).cast("long")
        return F.pmod(acc.bitwiseXOR(byte) * prime, mod)

    hashed = F.aggregate(F.sequence(F.lit(1), F.length(b)), offset, step)
    # sequence(1, 0) would produce a *descending* [1, 0] sequence, so the
    # empty string is special-cased to the offset basis (the reference's
    # hash of "" — Go fnv.New32a() with no writes).
    return F.when(F.length(b) == 0, offset).otherwise(hashed)


def fnv1a32_py(key: str) -> int:
    """The same FNV-1a 32 as :func:`fnv1a32`, in plain Python: routes a
    single key on the driver without a Spark job."""
    h = FNV_OFFSET_BASIS
    for b in key.encode("utf-8"):
        h = ((h ^ b) * FNV_PRIME) % FNV_MOD
    return h


def shard_for_key(col: Column | str, num_shards: int = NUM_SHARDS) -> Column:
    """``shard_id = fnv1a32(key) % num_shards``.

    Reference: shard_registry.go:372-379 (GetShardForKey). Go's
    ``int(h.Sum32())`` is non-negative on 64-bit platforms so plain
    ``%`` there == ``pmod`` here.
    """
    return F.pmod(fnv1a32(col), F.lit(num_shards)).cast("int")


def fnv1a32_sql(key_expr: str) -> str:
    """DuckDB SQL computing the identical FNV-1a 32-bit hash.

    Used by oracle queries so shard routing is hash-verified, not
    rows-only. ``list_reduce`` seeds from the prepended offset basis;
    a single-element list (empty key) reduces to the seed itself.
    """
    return f"""list_reduce(
      list_prepend({FNV_OFFSET_BASIS}::BIGINT,
        list_transform(range(1, octet_length(encode({key_expr})) + 1),
          i -> CAST(('0x' || substr(hex(encode({key_expr})), 2*i - 1, 2)) AS BIGINT))),
      (h, b) -> (xor(h, b) * {FNV_PRIME}) % {FNV_MOD})"""


def shard_for_key_sql(key_expr: str, num_shards: int = NUM_SHARDS) -> str:
    return f"CAST(({fnv1a32_sql(key_expr)}) % {num_shards} AS INTEGER)"
