"""ToruaEngine facade: the reference's BDD scenarios
(features/distributed-storage.feature) replayed against the Python API,
plus the shard-partitioned at-rest layout with partition-pruned reads.
"""

import tempfile

import pytest
from hypothesis import HealthCheck, Phase, example, given, settings, strategies as st
from pyspark.sql import functions as F

import torua_spark.engine as engine_mod
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
    """checkpoint_to writes the sidecar for file:// URIs, so
    restore_from must strip the scheme the same way — the round-trip
    keeps the sidecar's num_shards inference and the at-rest pruning
    view instead of silently degrading."""
    e = ToruaEngine(spark, num_shards=6)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(40)])
    uri = f"file://{tmp_path / 'kvuri'}"
    e.checkpoint_to(uri)
    r = ToruaEngine.restore_from(spark, uri)
    assert r.num_shards == 6
    assert r._at_rest is not None
    assert r.get("key-7") == "v7"


def test_restore_guards_stale_or_foreign_at_rest(spark, tmp_path):
    """The at-rest partition view must never serve a shard_hint under
    a DIFFERENT sharding than the engine's routing — a 4-shard
    checkpoint restored as num_shards=8 falls back to the routing
    predicate (correct ownership sets), and foreign (key,value) parquet
    without shard_id/sidecar never crashes a hinted read. num_shards
    defaults from the checkpoint sidecar."""
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


def test_restored_reads_hydrate_once_then_run_no_job(spark, tmp_path, monkeypatch):
    """A whole kv_serving-shaped round runs no Spark job while the read
    map holds the state: build, a 1000-key put_many, checkpoint_to and
    restore_from (both written and read back on the driver), reads
    (the first hydrates the map from the checkpoint's files), put_many,
    delete, reads, and a second checkpoint and restore. Over the map
    ceiling the same round runs a job per read, and answers alike."""
    sc = spark.sparkContext
    keys = [f"key{i:06d}" for i in range(0, 1000, 34)]

    def reads(engine):
        return (
            [engine.get(k) for k in keys],
            engine.multi_get(keys[:5] + ["key000001", "key000002", "new"]),
            engine.scan("key000100", "key000150"),
        )

    def kv_round(group):
        sc.setJobGroup(group, group)
        try:
            e = ToruaEngine(spark).put_many(
                [(f"key{i:06d}", f"v{i}") for i in range(1000)]
            )
            e.checkpoint_to(str(tmp_path / group / "a"))
            e = ToruaEngine.restore_from(spark, str(tmp_path / group / "a"))
            first = reads(e)
            e.put_many([("key000001", "w"), ("new", "n")]).delete("key000002")
            second = reads(e)
            e.checkpoint_to(str(tmp_path / group / "b"))
            e = ToruaEngine.restore_from(spark, str(tmp_path / group / "b"))
            third = reads(e)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return (first, second, third), len(sc.statusTracker().getJobIdsForGroup(group))

    mapped, mapped_jobs = kv_round("kv_round_mapped")
    monkeypatch.setattr(engine_mod, "_MAP_MAX_BYTES", -1)
    unmapped, unmapped_jobs = kv_round("kv_round_over_ceiling")
    assert mapped_jobs == 0
    assert unmapped_jobs >= 3 * (len(keys) + 2)
    assert mapped == unmapped
    first, second, third = mapped
    assert first[0] == [f"v{i}" for i in range(0, 1000, 34)]
    assert first[1] == {**{k: f"v{int(k[3:])}" for k in keys[:5]},
                        "key000001": "v1", "key000002": "v2"}
    assert first[2] == [f"key{i:06d}" for i in range(100, 150)]
    assert second[1] == {**{k: f"v{int(k[3:])}" for k in keys[:5]},
                         "key000001": "w", "new": "n"}
    assert third == second


@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_checkpoint_into_its_restore_dir_keeps_the_state(spark, tmp_path,
                                                         monkeypatch, writer):
    """A checkpoint into the directory the engine was restored from,
    with and without buffered writes, publishes the new state over the
    old one instead of deleting what the engine still reads; the
    engine then answers from the published layout."""
    if writer == "spark":
        monkeypatch.setattr(engine_mod, "_MAP_MAX_BYTES", -1)
    keys = [f"key-{i}" for i in range(40)]
    path = str(tmp_path / "kv")
    ToruaEngine(spark).put_many([(k, "v") for k in keys]).checkpoint_to(path)
    r = ToruaEngine.restore_from(spark, path)
    r.checkpoint_to(path)
    assert sorted(r.list_keys()) == sorted(keys)
    r.put("key-new", "w")
    r.checkpoint_to(path)
    want = sorted(keys + ["key-new"])
    hint = [1, 3]
    assert sorted(row["key"] for row in r.dataframe().collect()) == want
    assert sum(row["keys"] for row in r.stats().collect()) == len(want)
    assert r.scan("key-", "key-z", shard_hint=hint) == [
        k for k in want if fnv1a32_py(k) % 4 in hint
    ]
    plan = plan_string(r._hinted(hint))
    assert "PartitionFilters" in plan and "shard_id" in plan, plan
    assert sorted(ToruaEngine.restore_from(spark, path).list_keys()) == want
    assert sorted(p.name for p in tmp_path.iterdir()) == ["kv"]


def test_map_ceiling_bounds_measured_bytes(spark, monkeypatch):
    """The read map's ceiling counts key and value lengths, not plan
    statistics, which size a locally built value at its type's default:
    a 2 MB value over a 1 MB ceiling drops the map at the fold that
    adds it and at the hydration that reads it, and its reads run jobs
    and still read back exactly."""
    monkeypatch.setattr(engine_mod, "_MAP_MAX_BYTES", 1 << 20)
    big = bytes(range(256)) * 8192
    items = [("big", big), ("small", b"s")]
    folded = ToruaEngine(spark, value_type="binary").put_many(items)
    folded.dataframe()
    ddl = "key string, value binary"
    kv = kvops.upsert(local_df(spark, [], ddl), local_df(spark, items, ddl))
    planned = kv._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(str(planned)) < 1 << 20
    hydrated = ToruaEngine(spark, kv, value_type="binary")
    sc = spark.sparkContext
    for group, e in (("ceiling_fold", folded), ("ceiling_hydrate", hydrated)):
        sc.setJobGroup(group, group)
        try:
            got = e.get("big"), e.multi_get(["big", "small"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert e._map is None
        assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
        assert got == (big, dict(items))


@pytest.mark.parametrize("value_type", ["string", "binary"])
def test_driver_and_spark_writers_give_one_layout(spark, tmp_path, monkeypatch,
                                                   value_type):
    """The driver writer and the Spark writer (map ceiling -1) put each
    key in the same ``shard_id=`` directory, under the same schema,
    with the same value, a None value included."""
    import pyarrow.parquet as pq

    def value(i, k):
        if i % 3 == 0:
            return None
        return f"v{k}" if value_type == "string" else f"v{k}".encode() + b"\xff"

    items = [(k, value(i, k)) for i, k in enumerate(_KEY_LIST)]
    sc = spark.sparkContext

    def write(name):
        sc.setJobGroup(name, name)
        try:
            ToruaEngine(spark, value_type=value_type).put_many(items).checkpoint_to(
                str(tmp_path / name)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        layout = {}
        for d in (tmp_path / name).glob("shard_id=*"):
            table = pq.read_table(d)
            arrow_type = str(table.schema.field("value").type)
            layout.update(
                (r["key"], (d.name, r["value"], arrow_type)) for r in table.to_pylist()
            )
        meta = (tmp_path / name / "_torua_meta.json").read_text()
        assert (tmp_path / name / "_SUCCESS").exists()
        return layout, meta, len(sc.statusTracker().getJobIdsForGroup(name))

    driver, driver_meta, driver_jobs = write("driver")
    monkeypatch.setattr(engine_mod, "_MAP_MAX_BYTES", -1)
    spark_, spark_meta, spark_jobs = write("spark")
    assert driver_jobs == 0 and spark_jobs >= 1
    assert driver == spark_ == {
        k: (f"shard_id={fnv1a32_py(k) % NUM_SHARDS}", v, value_type) for k, v in items
    }
    assert driver_meta == spark_meta


def test_hadoop_uri_checkpoint_keeps_the_spark_write(spark, tmp_path, monkeypatch):
    """A path that is not on the local filesystem takes the Spark write
    straight into the target, with no sidecar, and restores through
    schema inference; here a ``file://`` URI stands in for one."""
    monkeypatch.setattr(engine_mod, "_local_path", lambda path: None)
    uri = f"file://{tmp_path / 'kv'}"
    ToruaEngine(spark).put_many([("a", "x"), ("b", None)]).checkpoint_to(uri)
    assert not (tmp_path / "kv" / "_torua_meta.json").exists()
    r = ToruaEngine.restore_from(spark, uri)
    assert r._at_rest is None and r._src is None
    assert r.multi_get(["a", "b", "c"]) == {"a": "x", "b": None}


@pytest.mark.parametrize("mode", ["map", "frame"])
def test_hadoop_uri_checkpoint_into_its_restore_dir_keeps_the_state(spark, tmp_path,
                                                                   monkeypatch, mode):
    """A checkpoint to a Hadoop URI that the engine's relation reads
    from, with and without a write since the restore, keeps the state
    in both modes: the new tree is written beside the target and
    renamed over it once whole."""
    if mode == "frame":
        monkeypatch.setattr(engine_mod, "_MAP_MAX_BYTES", -1)
    monkeypatch.setattr(engine_mod, "_local_path", lambda path: None)
    keys = [f"key-{i}" for i in range(40)]
    uri = f"file://{tmp_path / 'kv'}"
    ToruaEngine(spark).put_many([(k, "v") for k in keys]).checkpoint_to(uri)
    r = ToruaEngine.restore_from(spark, uri)
    assert (r._map is not None) == (mode == "map")
    r.dataframe()
    r.checkpoint_to(uri)
    r.put("key-new", "w")
    r.checkpoint_to(uri)
    want = sorted(keys + ["key-new"])
    assert sorted(r.list_keys()) == want
    assert r.get("key-new") == "w" and r.get("key-3") == "v"
    assert sorted(ToruaEngine.restore_from(spark, uri).list_keys()) == want
    assert sorted(p.name for p in tmp_path.iterdir()) == ["kv"]


def test_restore_rejects_a_value_type_its_sidecar_contradicts(spark, tmp_path):
    """An explicit value_type that differs from the one the checkpoint
    recorded raises, naming both, instead of labelling string values
    binary (or the reverse)."""
    path = str(tmp_path / "kv")
    ToruaEngine(spark).put_many([("a", "x")]).checkpoint_to(path)
    with pytest.raises(ValueError, match="conflicting value types.*'binary'.*'string'"):
        ToruaEngine.restore_from(spark, path, value_type="binary")
    assert ToruaEngine.restore_from(spark, path, value_type="string").get("a") == "x"


def test_map_mode_writer_runs_no_job(spark):
    """Map-mode writes go straight into the map: 1000 single-key puts
    on an engine built with no kv, then a multi_get of every key, run
    no Spark job (no buffer fold, no lineage cut) and read back
    exactly."""
    sc = spark.sparkContext
    keys = [f"key{i:06d}" for i in range(1000)]
    sc.setJobGroup("map_writer", "map_writer")
    try:
        e = ToruaEngine(spark)
        for i, k in enumerate(keys):
            e.put(k, f"v{i}")
        got = e.multi_get(keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("map_writer")) == 0
    assert got == {k: f"v{i}" for i, k in enumerate(keys)}


def test_map_mode_round_makes_no_jvm_call(spark, tmp_path, monkeypatch):
    """A kv_serving-shaped round on a map-mode engine makes no py4j
    call, so it builds no DataFrame and runs no job: checkpoint_to,
    restore_from, 34 get, 2 multi_get, 2 scan, put_many and delete.
    The job group is set outside the spied span, as it is a py4j call
    itself."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    model = {f"key{i:06d}": f"v{i}" for i in range(1000)}
    e = ToruaEngine(spark).put_many(list(model.items()))
    calls, send = [], client.send_command

    def spy(command, *args, **kw):
        calls.append(command[:80])
        return send(command, *args, **kw)

    sc.setJobGroup("no_jvm_round", "no_jvm_round")
    monkeypatch.setattr(client, "send_command", spy)
    try:
        e.checkpoint_to(str(tmp_path / "a"))
        e = ToruaEngine.restore_from(spark, str(tmp_path / "a"))
        got = (
            [e.get(f"key{i:06d}") for i in range(0, 1000, 30)],
            e.multi_get(["key000001", "key000002", "nope"]),
            e.multi_get([f"key{i:06d}" for i in range(500, 505)]),
            e.scan("key000100", "key000110"),
            e.scan("key000990", "key001000"),
        )
        e.put_many([("key000001", "w"), ("new", "n")]).delete("key000002")
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls == []
    assert len(sc.statusTracker().getJobIdsForGroup("no_jvm_round")) == 0
    assert got == (
        [f"v{i}" for i in range(0, 1000, 30)],
        {"key000001": "v1", "key000002": "v2"},
        {f"key{i:06d}": f"v{i}" for i in range(500, 505)},
        [f"key{i:06d}" for i in range(100, 110)],
        [f"key{i:06d}" for i in range(990, 1000)],
    )
    assert e.multi_get(["key000001", "key000002", "new"]) == {"key000001": "w", "new": "n"}


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

    def delete_range(self, start, end):
        return self._apply(kvops.delete_range(self.kv, start, end))

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
    """A value type and an op sequence: reads (a None key among them),
    hinted reads, writes with repeated in-batch keys, None values and
    keys, values of the wrong Python type (which local_df CASTs), range
    deletes, checkpoints, and a run of nine mutations, one more than the
    engine's fold period."""
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
    odd = st.tuples(plain, values | st.none()).map(lambda t: t[0] + [(None, t[1])])
    odd |= st.lists(st.tuples(_KEYS, foreign), min_size=1, max_size=3)
    put = st.tuples(st.just("put_many"), st.one_of(plain, plain, plain, odd))
    delete = st.lists(st.sampled_from([*_KEY_LIST, None]), max_size=2).map(
        lambda ks: ("delete", *ks)
    )
    op = st.one_of(
        put,
        delete,
        st.tuples(st.just("get"), _KEYS),
        st.tuples(st.just("get"), st.none()),
        st.tuples(st.just("multi_get"), st.lists(_KEYS, max_size=4)),
        st.tuples(st.just("scan"), _BOUNDS, _BOUNDS),
        st.tuples(st.just("scan"), _BOUNDS, _BOUNDS, _HINT),
        st.tuples(st.just("list_keys"), st.none(), _HINT),
        st.tuples(st.just("delete_range"), _BOUNDS, _BOUNDS),
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


@pytest.mark.parametrize("reads", ["read_map", "job_per_read"])
# no shrink phase: each example runs dozens of Spark jobs, and shrinking
# one failure can take many minutes
@settings(max_examples=6, deadline=None,
          phases=[Phase.explicit, Phase.reuse, Phase.generate],
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large,
                                 HealthCheck.function_scoped_fixture])
@given(history=_histories())
# an empty state survives checkpoint -> restore, keeping its value type
@example(history=("binary", [
    ("checkpoint",), ("multi_get", _KEY_LIST), ("put_many", [("a", b"x")]),
    ("checkpoint",), ("delete", "a"), ("checkpoint",), ("dataframe",),
]))
# the read map takes the fold, drops a deleted range, and never holds the
# NULL-key row that a write skipping the buffer leaves in the base
@example(history=("string", [
    ("put_many", [("a", "x")]), ("dataframe",), ("get", "a"),
    ("delete_range", "a", "b"), ("get", "a"),
    ("put_many", [(None, "y")]), ("get", None),
]))
# a checkpoint keeps the NULL-key row that hydration leaves out of the
# map, and a restored layout holding only that row hydrates
@example(history=("string", [
    ("put_many", [(None, "y")]), ("get", "a"), ("checkpoint",), ("get", "a"),
    ("dataframe",),
]))
def test_write_buffer_matches_eager_operators(spark, monkeypatch, reads, history):
    """The buffered engine answers every read exactly as a reference
    that applies each write eagerly through the kv operators, both from
    its driver read map and, over the map ceiling, with a job per read
    and never a map."""
    if reads == "job_per_read":
        monkeypatch.setattr(engine_mod, "_MAP_MAX_BYTES", -1)
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
            if op in ("put_many", "delete", "delete_range"):
                # a write is visible to the next read of every key
                got, want = engine.multi_get(_KEY_LIST), ref.multi_get(_KEY_LIST)
                op = "multi_get"
            assert _canon(op, got) == _canon(op, want), (i, op, args)
            if reads == "job_per_read":
                assert engine._map is None, (i, op, args)
