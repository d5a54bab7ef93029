"""ToruaEngine facade: the reference's BDD scenarios
(features/distributed-storage.feature) replayed against the Python API,
plus the shard-partitioned at-rest layout with partition-pruned reads.
"""

import tempfile

from hypothesis import HealthCheck, Phase, example, given, settings, strategies as st
from pyspark.sql import functions as F

from torua_spark.constants import NUM_SHARDS
from torua_spark.engine import ToruaEngine
from torua_spark.functions.hashing import fnv1a32_py, shard_for_key
from torua_spark.operators import kv as kvops
from torua_spark.plans import plan_string
from torua_spark.sources.local import local_df


def test_crud_scenarios(spark):
    """Store/retrieve, update, delete, 404 — the core BDD scenarios."""
    e = ToruaEngine(spark)
    e.put("simple", "v1").put("user@example.com", "v2").put("数字", "unicode-value")
    assert e.get("simple") == "v1"
    assert e.get("user@example.com") == "v2"
    assert e.get("数字") == "unicode-value"
    assert e.get("missing") is None            # 404
    e.put("simple", "v1-updated")              # overwrite
    assert e.get("simple") == "v1-updated"
    e.delete("simple")
    assert e.get("simple") is None
    e.delete("simple")                         # idempotent
    assert sorted(e.scan("a", "z")) == ["user@example.com"]


def test_routing_matches_reference_hash(spark):
    """route() hashes on the driver; it must agree with the Catalyst
    routing expression that checkpoint_to partitions by."""
    e = ToruaEngine(spark)
    keys = ["simple", "path/to/resource", "数字", ""]
    catalyst = dict(
        spark.createDataFrame([(k,) for k in keys], "key string")
        .select("key", shard_for_key("key").alias("s"))
        .collect()
    )
    for key in keys:
        shard, node = e.route(key)
        assert shard == catalyst[key] == fnv1a32_py(key) % 4
        assert node == ("n1" if shard % 2 == 0 else "n2")


def test_empty_value_and_large_value(spark):
    """BDD: empty values valid; >1MB values round-trip."""
    e = ToruaEngine(spark)
    big = "x" * (1024 * 1024 + 17)
    e.put_many([("empty", ""), ("big", big)])
    assert e.get("empty") == ""
    got = e.get("big")
    assert got is not None and len(got) == len(big)


def test_checkpoint_partition_prunes(spark, tmp_path):
    """At-rest layout: shard-partitioned parquet; a point lookup with
    the routing predicate prunes to ONE shard directory — the batch
    analog of coordinator routing."""
    e = ToruaEngine(spark)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(200)])
    path = str(tmp_path / "kvstate")
    e.checkpoint_to(path)

    key = "key-42"
    shard = fnv1a32_py(key) % 4
    df = (
        spark.read.parquet(path)
        .filter((F.col("shard_id") == shard) & (F.col("key") == key))
    )
    plan = plan_string(df)
    assert "PartitionFilters" in plan and "shard_id" in plan, plan
    assert [r["value"] for r in df.collect()] == ["v42"]

    restored = ToruaEngine.restore_from(spark, path)
    assert restored.get("key-42") == "v42"
    assert sorted(restored.list_keys()) == sorted(f"key-{i}" for i in range(200))


def test_shard_hint_scoped_reads(spark, tmp_path):
    """Query-message ``shard_hint`` (ARCHITECTURE.md:327-339): scan and
    list_keys scoped to hinted shards return exactly the keys those
    shards own. On a freshly-restored engine the hint filters the
    PARTITION column and Spark prunes to the hinted directories
    (PartitionFilters); after a mutation the at-rest view is invalid
    and the routing predicate takes over — same result set."""
    keys = [f"key-{i}" for i in range(120)]
    e = ToruaEngine(spark)
    e.put_many([(k, f"v{k}") for k in keys])
    hint = [1, 3]
    want = sorted(k for k in keys if fnv1a32_py(k) % 4 in hint)
    # in-memory engine: routing-predicate path
    assert sorted(e.list_keys(shard_hint=hint)) == want
    assert e.scan("key-", "key-z", shard_hint=hint) == want
    # restored engine: partition-column path, directory-pruned
    path = str(tmp_path / "kvstate")
    e.checkpoint_to(path)
    r = ToruaEngine.restore_from(spark, path)
    hinted = r._hinted(hint)
    plan = plan_string(hinted)
    assert "PartitionFilters" in plan and "shard_id" in plan, plan
    assert sorted(r.list_keys(shard_hint=hint)) == want
    assert r.scan("key-", "key-z", shard_hint=hint) == want
    # single-shard form still works and agrees with the ownership set
    one = sorted(k for k in keys if fnv1a32_py(k) % 4 == 2)
    assert sorted(r.list_keys(shard_id=2)) == one
    # a mutation invalidates the at-rest view but not correctness
    r.put("key-extra", "v")
    want2 = sorted(
        k for k in keys + ["key-extra"] if fnv1a32_py(k) % 4 in hint
    )
    assert sorted(r.list_keys(shard_hint=hint)) == want2


def test_checkpoint_restore_roundtrips_file_uri(spark, tmp_path):
    """r8 ADVICE: checkpoint_to writes the sidecar for file:// URIs,
    so restore_from must strip the scheme the same way — the
    round-trip keeps the sidecar's num_shards inference and the
    at-rest pruning view instead of silently degrading."""
    e = ToruaEngine(spark, num_shards=6)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(40)])
    uri = f"file://{tmp_path / 'kvuri'}"
    e.checkpoint_to(uri)
    r = ToruaEngine.restore_from(spark, uri)
    assert r.num_shards == 6
    assert r._at_rest is not None
    assert r.get("key-7") == "v7"


def test_restore_guards_stale_or_foreign_at_rest(spark, tmp_path):
    """Review findings (r8): the at-rest partition view must never
    serve a shard_hint under a DIFFERENT sharding than the engine's
    routing — a 4-shard checkpoint restored as num_shards=8 falls back
    to the routing predicate (correct ownership sets), and foreign
    (key,value) parquet without shard_id/sidecar never crashes a
    hinted read. num_shards defaults from the checkpoint sidecar."""
    keys = [f"key-{i}" for i in range(60)]
    e = ToruaEngine(spark, num_shards=4)
    e.put_many([(k, "v") for k in keys])
    path = str(tmp_path / "kv4")
    e.checkpoint_to(path)
    # default restore picks num_shards=4 from the sidecar, prunes
    r = ToruaEngine.restore_from(spark, path)
    assert r.num_shards == 4 and r._at_rest is not None
    # explicit override to 8: stale layout disabled, routing takes over
    r8 = ToruaEngine.restore_from(spark, path, num_shards=8)
    assert r8._at_rest is None
    want8 = sorted(k for k in keys if fnv1a32_py(k) % 8 == 6)
    assert sorted(r8.list_keys(shard_hint=[6])) == want8
    # foreign parquet (no shard_id, no sidecar): hint still answers
    foreign = str(tmp_path / "foreign")
    spark.createDataFrame(
        [(k, "v") for k in keys], "key string, value string"
    ).write.parquet(foreign)
    rf = ToruaEngine.restore_from(spark, foreign)
    assert rf._at_rest is None
    want = sorted(k for k in keys if fnv1a32_py(k) % 4 in (1, 3))
    assert sorted(rf.list_keys(shard_hint=[1, 3])) == want
    # conflicting scopes raise instead of silently dropping one
    import pytest as _pytest

    with _pytest.raises(ValueError, match="conflicting"):
        r.list_keys(shard_id=2, shard_hint=[1, 3])


def test_stats_and_broadcast(spark):
    e = ToruaEngine(spark)
    e.put_many([(f"k{i}", "v" * i) for i in range(50)])
    stats = {r["shard_id"]: r["keys"] for r in e.stats().collect()}
    assert sum(stats.values()) == 50
    bg = e.broadcast_stats().collect()
    assert all(r["sent_to"] == 2 for r in bg)
    assert sum(r["keys"] for r in bg) == 50


def test_binary_values_roundtrip(spark):
    """The reference's true value model: opaque []byte
    (store.go:51-103; BDD 1 MB scenario features/distributed-storage
    .feature:74-79). Non-UTF-8 bytes, the empty value, and a >1 MB
    value must all round-trip byte-for-byte through put/get/upsert/
    delete, and stats must count value BYTES."""
    e = ToruaEngine(spark, value_type="binary")
    raw = bytes(range(256))                      # every byte value, not UTF-8
    big = bytes(range(256)) * 4200               # 1,075,200 bytes > 1 MB
    e.put_many([
        ("bin", raw),
        ("empty", b""),
        ("big", big),
        ("utf8", "héllo-数字".encode("utf-8")),
    ])
    assert e.get("bin") == raw
    assert e.get("empty") == b""
    assert e.get("big") == big
    assert e.get("utf8") == "héllo-数字".encode("utf-8")
    assert e.get("missing") is None

    # LWW overwrite with different bytes
    e.put("bin", b"\x00\x01\x02")
    assert e.get("bin") == b"\x00\x01\x02"

    # stats counts bytes of the binary payloads
    stats = e.stats().collect()
    assert sum(r["keys"] for r in stats) == 4
    total = sum(r["bytes"] for r in stats)
    assert total == 3 + 0 + len(big) + len("héllo-数字".encode("utf-8"))

    e.delete("big")
    assert e.get("big") is None
    assert sorted(e.list_keys()) == ["bin", "empty", "utf8"]


def test_compact_for_serving_keeps_results_and_is_warm(spark):
    e = ToruaEngine(spark)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(5000)])
    e.compact_for_serving()
    import time

    assert e.get("key-42") == "v42"          # warm the path
    t0 = time.perf_counter()
    assert e.get("key-4711") == "v4711"
    dt_ms = (time.perf_counter() - t0) * 1000
    # generous bound: measured p50 ~51ms warm; allow heavy-host noise
    assert dt_ms < 500, dt_ms
    assert e.get("nope") is None


# ------------------------------------------------------------ write buffer


class _EagerReference:
    """The engine's read/write surface over a DataFrame that applies
    every batch as it arrives through ``kvops.upsert``/``kvops.delete``:
    what the buffered engine must stay indistinguishable from."""

    def __init__(self, spark, value_type):
        self.spark, self.value_type = spark, value_type
        self.kv = local_df(spark, [], f"key string, value {value_type}")

    def _apply(self, kv):
        self.kv = kv.localCheckpoint()
        return self

    def put_many(self, items):
        ddl = f"key string, value {self.value_type}"
        return self._apply(kvops.upsert(self.kv, local_df(self.spark, items, ddl)))

    def delete(self, *keys):
        tombs = local_df(self.spark, [(k,) for k in keys], "key string")
        return self._apply(kvops.delete(self.kv, tombs))

    def get(self, key):
        rows = kvops.point_get(self.kv, key).take(1)
        return rows[0]["value"] if rows else None

    def multi_get(self, keys):
        return {r["key"]: r["value"] for r in kvops.multi_get(self.kv, keys).collect()}

    def _scoped(self, shard_hint):
        if shard_hint is None:
            return self.kv
        return self.kv.filter(kvops.shard_hint_filter(NUM_SHARDS, shard_hint))

    def scan(self, start, end, shard_hint=None):
        src = self._scoped(shard_hint)
        return [r["key"] for r in kvops.range_scan(src, start, end).collect()]

    def list_keys(self, shard_id, shard_hint):
        return [r["key"] for r in kvops.list_keys(self._scoped(shard_hint)).collect()]

    def dataframe(self):
        return self.kv


_KEY_LIST = ["", "a", "ab", "b", "a'b", "c\\d", "é", "数"]
_KEYS = st.sampled_from(_KEY_LIST)
_BOUNDS = st.sampled_from(["", "a", "ab", "b", "c", "z", "数"])
_HINT = st.lists(st.integers(0, NUM_SHARDS - 1), min_size=1, max_size=2, unique=True)


@st.composite
def _histories(draw):
    """A value type and an op sequence: reads, hinted reads, writes
    with repeated in-batch keys, None values and keys, values of the
    wrong Python type (which local_df CASTs), checkpoints, and a run
    of nine mutations, one more than the engine's fold period."""
    value_type = draw(st.sampled_from(["string", "binary"]))
    if value_type == "string":
        values, foreign = st.text("ab'\\é", max_size=3), st.integers(0, 9)
    else:
        values = st.binary(max_size=3) | st.binary(max_size=3).map(bytearray)
        foreign = st.text("ab", max_size=2)
    plain = st.lists(st.tuples(_KEYS, values | st.none()), max_size=4)
    # one batch in four skips the buffer: it holds a None key, or values
    # of the wrong type (only those: VALUES cannot mix a foreign-typed
    # literal with a typed NULL)
    odd = plain.map(lambda b: b + [(None, None)])
    odd |= st.lists(st.tuples(_KEYS, foreign), min_size=1, max_size=3)
    put = st.tuples(st.just("put_many"), st.one_of(plain, plain, plain, odd))
    delete = st.lists(st.sampled_from([*_KEY_LIST, None]), max_size=2).map(
        lambda ks: ("delete", *ks)
    )
    op = st.one_of(
        put,
        delete,
        st.tuples(st.just("get"), _KEYS),
        st.tuples(st.just("multi_get"), st.lists(_KEYS, max_size=4)),
        st.tuples(st.just("scan"), _BOUNDS, _BOUNDS),
        st.tuples(st.just("scan"), _BOUNDS, _BOUNDS, _HINT),
        st.tuples(st.just("list_keys"), st.none(), _HINT),
        st.tuples(st.just("dataframe")),
        st.tuples(st.just("checkpoint")),
    )
    head = draw(st.lists(op, max_size=10))
    burst = draw(st.lists(st.one_of(put, delete), min_size=9, max_size=9))
    tail = draw(st.lists(op, min_size=4, max_size=8))
    return value_type, head + burst + tail


def _canon(op, result):
    # repr, because bytes == bytearray: a read must hand back Spark's type
    if op == "dataframe":
        return sorted(repr(tuple(r)) for r in result.collect())
    if op == "multi_get":
        return sorted((k, repr(v)) for k, v in result.items())
    if op == "list_keys":
        return sorted(result)
    return repr(result)


# no shrink phase: each example runs dozens of Spark jobs, and shrinking
# one failure can take many minutes
@settings(max_examples=6, deadline=None,
          phases=[Phase.explicit, Phase.reuse, Phase.generate],
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(history=_histories())
# an empty state survives checkpoint -> restore, keeping its value type
@example(history=("binary", [
    ("checkpoint",), ("multi_get", _KEY_LIST), ("put_many", [("a", b"x")]),
    ("checkpoint",), ("delete", "a"), ("checkpoint",), ("dataframe",),
]))
def test_write_buffer_matches_eager_operators(spark, history):
    """The buffered engine answers every read exactly as a reference
    that applies each write eagerly through the kv operators."""
    value_type, ops = history
    engine = ToruaEngine(spark, value_type=value_type)
    ref = _EagerReference(spark, value_type)
    with tempfile.TemporaryDirectory() as tmp:
        for i, (op, *args) in enumerate(ops):
            if op == "checkpoint":
                path = f"{tmp}/ck{i}"
                engine.checkpoint_to(path)
                engine = ToruaEngine.restore_from(spark, path, value_type=value_type)
                continue
            got = getattr(engine, op)(*args)
            want = getattr(ref, op)(*args)
            if op in ("put_many", "delete"):
                # a write is visible to the next read of every key
                got, want = engine.multi_get(_KEY_LIST), ref.multi_get(_KEY_LIST)
                op = "multi_get"
            assert _canon(op, got) == _canon(op, want), (i, op, args)
