"""ToruaEngine — the user-facing facade.

Every HTTP endpoint of the reference maps to a method here, so a
torua user can switch 1:1 (reference routes in parentheses; see
cmd/coordinator/main.go and cmd/node/main.go):

    GET    /data/{key}        -> engine.get(key)
    PUT    /data/{key}        -> engine.put(key, value) / put_many
    DELETE /data/{key}        -> engine.delete(key)
    GET    /shard/{id}/keys   -> engine.list_keys(shard_id=...)
    range scan (shard.go)     -> engine.scan(start, end)
    DELETE range              -> engine.delete_range(start, end)
    GET    /shards            -> engine.shards()
    GET    /nodes             -> engine.nodes()
    GET    /stats             -> engine.stats()
    POST   /broadcast         -> engine.broadcast_stats()
    POST   /control           -> engine.control(payload)   (logged no-op)
    routing introspection     -> engine.route(key)
    routing error trace       -> engine.route_status(keys) (503/502/200)
    query shard_hint          -> engine.scan(..., shard_hint=[...])
                                 engine.list_keys(shard_hint=[...])

State is a base DataFrame, a driver-side write buffer over it, and a
driver-side read map of it: the shape of an in-memory serving tier over
immutable columnar storage. ``put``/``put_many``/``delete`` record into
the buffer (key -> value, or a tombstone). The first read that misses
the buffer sizes the base from plan statistics (file sizes, local
rows; no job) and, under ``_MAP_MAX_BYTES``, collects it into the map
with one job. ``get``, ``multi_get`` and an unhinted ``scan`` then
answer from the buffer first and the map second, with no Spark job;
over the ceiling they run one job per read against the base. The map
stays exact because ``_kv`` changes in three places only: a fold
applies the buffer to the map as well (puts overwrite, tombstones
pop), ``delete_range`` drops its range from it, and a write that skips
the buffer (a non-``str`` key, a value of the wrong Python type)
clears it, so the next read hydrates again. The map holds no NULL
key: SQL ``=`` and range predicates never return such a row.

The buffer folds into the base through ``kvops.upsert``/``kvops.delete``
before ``checkpoint_to``, ``dataframe``, ``stats``, ``broadcast_stats``,
``list_keys``, ``delete_range`` and any ``shard_hint`` read, and on
every 8th mutation, where the lineage is also cut. Buffer and map
assume a key-unique base, which every state the engine builds or
checkpoints is.

``checkpoint_to`` / ``restore_from`` persist the state as
shard-partitioned parquet: the directory per shard IS the reference's
shard placement. A restored engine starts with an empty map and keeps
its at-rest layout for ``shard_hint`` reads until a fold: those filter
the partition column, so Spark prunes to the hinted shard directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from torua_spark.constants import NODES, NUM_SHARDS
from torua_spark.functions.hashing import fnv1a32_py, shard_for_key
from torua_spark.operators import kv as kvops
from torua_spark.operators import topology as topo
from torua_spark.sources.local import local_df

# write-buffer marker of a deleted key
_TOMBSTONE = object()
# the Python types a value comes back from Spark as, per value_type; a
# batch holding any other value (an int that local_df would CAST) skips
# the buffer and takes the DataFrame path
_PY_TYPES = {"string": str, "binary": (bytes, bytearray)}
# plan-statistics size under which the first base read collects the base
# into the driver read map
_MAP_MAX_BYTES = 64 << 20


class ToruaEngine:
    def __init__(
        self,
        spark: SparkSession,
        kv: DataFrame | None = None,
        num_shards: int = NUM_SHARDS,
        nodes: list[tuple[str, str, str]] | None = None,
        value_type: str = "string",
    ):
        """``value_type="binary"`` gives the reference's true value
        model — opaque bytes (store.go:51-103, "Accepts any byte
        sequence" cmd/node/main.go:536-539): empty, non-UTF-8, and
        >1 MB values all round-trip (features/distributed-storage
        .feature:74-79). Every operator below is type-agnostic (the
        kv ops only compare keys and measure/order values)."""
        self.spark = spark
        self.num_shards = num_shards
        self.node_list = nodes or NODES
        self.value_type = value_type
        self._kv = kv if kv is not None else local_df(
            spark, [], f"key string, value {value_type}"
        )
        # writes not yet folded into _kv: key -> value or _TOMBSTONE
        self._buf: dict = {}
        self._mutations = 0
        # _kv as a driver map, key -> value, filled by the first base
        # read (which sets _sized) if the base is under _MAP_MAX_BYTES;
        # None until then, and over the ceiling
        self._map: dict | None = None
        self._sized = False
        # at-rest shard-partitioned view (set by restore_from): lets
        # shard_hint reads filter the PARTITION column — directory
        # pruning — instead of computing the routing hash per row.
        # A fold or mutation that changes _kv invalidates it.
        self._at_rest: DataFrame | None = None

    # ------------------------------------------------------------ data path

    def get(self, key: str) -> str | None:
        """GET /data/{key}: value or None (the 404 path)."""
        if key in self._buf:
            value = self._buf[key]
            return None if value is _TOMBSTONE else value
        base = self._base_map()
        if base is not None:
            return base.get(key)
        rows = kvops.point_get(self._kv, key).take(1)
        return rows[0]["value"] if rows else None

    def multi_get(self, keys: list[str]) -> dict[str, str]:
        out, rest = {}, []
        for k in keys:
            if k not in self._buf:
                rest.append(k)
            elif self._buf[k] is not _TOMBSTONE:
                out[k] = self._buf[k]
        if rest:
            base = self._base_map()
            if base is not None:
                out.update((k, base[k]) for k in rest if k in base)
            else:
                out.update(
                    (r["key"], r["value"])
                    for r in kvops.multi_get(self._kv, rest).collect()
                )
        return out

    def put(self, key: str, value: str) -> "ToruaEngine":
        return self.put_many([(key, value)])

    def put_many(self, items: list[tuple[str, str]]) -> "ToruaEngine":
        """PUT /data/{key}: last-writer-wins upsert (batched). A key
        repeated within one batch keeps its greatest value, a None
        value losing to any other — ``kvops.upsert``'s tie-break."""
        items = list(items)
        types = _PY_TYPES.get(self.value_type, ())
        if all(
            isinstance(k, str) and (v is None or isinstance(v, types))
            for k, v in items
        ):
            batch: dict = {}
            for k, v in items:
                if isinstance(v, bytearray):
                    v = bytes(v)  # Spark hands binary back as bytes
                old = batch.get(k)
                if old is None or (v is not None and v > old):
                    batch[k] = v
            return self._record(batch)
        return self._write_through(items, [])

    def delete(self, *keys: str) -> "ToruaEngine":
        """DELETE /data/{key}: idempotent."""
        if all(isinstance(k, str) for k in keys):
            return self._record(dict.fromkeys(keys, _TOMBSTONE))
        return self._write_through([], [(k,) for k in keys])

    def _write_through(self, puts: list, tombs: list) -> "ToruaEngine":
        """A write the buffer cannot hold (a non-``str`` key, a value
        that local_df CASTs) goes straight to ``_kv``; the read map,
        which cannot tell what the CAST made of it, is dropped."""
        self._fold()
        self._apply(puts, tombs)
        self._map, self._sized = None, False
        return self._record({})

    def _record(self, entries: dict) -> "ToruaEngine":
        # A later batch beats an earlier one. Every 8th mutation folds
        # and cuts the lineage, so neither the buffer nor the state
        # plan grows without bound (the role of log compaction).
        self._buf.update(entries)
        self._mutations += 1
        if self._mutations % 8 == 0:
            self._fold()
            self._kv = self._kv.localCheckpoint(eager=False)
        return self

    def _fold(self) -> None:
        """Apply the write buffer to ``_kv``, one upsert of the buffered
        values and one anti-join of the tombstones, and to the read map."""
        if self._buf:
            self._apply(
                [(k, v) for k, v in self._buf.items() if v is not _TOMBSTONE],
                [(k,) for k, v in self._buf.items() if v is _TOMBSTONE],
            )
            if self._map is not None:
                for k, v in self._buf.items():
                    if v is _TOMBSTONE:
                        self._map.pop(k, None)
                    else:
                        self._map[k] = v
            self._buf = {}

    def _base_map(self) -> dict | None:
        """``_kv`` as a driver map, collected with one job by the first
        call if plan statistics put the base under ``_MAP_MAX_BYTES``;
        None above it, where reads run a job against ``_kv``."""
        if not self._sized:
            self._sized = True
            stats = self._kv._jdf.queryExecution().optimizedPlan().stats()
            if int(str(stats.sizeInBytes())) < _MAP_MAX_BYTES:
                self._map = {
                    r["key"]: r["value"]
                    for r in self._kv.filter(F.col("key").isNotNull()).collect()
                }
        return self._map

    def _apply(self, puts: list, tombs: list) -> None:
        if puts:
            self._kv = kvops.upsert(self._kv, local_df(
                self.spark, puts, f"key string, value {self.value_type}"
            ))
        if tombs:
            self._kv = kvops.delete(
                self._kv, local_df(self.spark, tombs, "key string")
            )
        self._at_rest = None

    def scan(self, start: str, end: str,
             shard_hint: list[int] | None = None) -> list[str]:
        """Sorted lexicographic [start, end) key scan. ``shard_hint``
        scopes execution to the named shards (the query-message field,
        ARCHITECTURE.md:327-339): on a freshly-restored engine the
        hint filters the at-rest layout's partition column — Spark
        prunes to the hinted shard DIRECTORIES, the coordinator's
        fan-out-to-fewer-nodes behavior — otherwise it applies the
        routing predicate per row. An unhinted scan merges the base
        keys in range, from the read map when there is one, with the
        write buffer."""
        if shard_hint is not None:
            src = self._hinted(shard_hint)
            return [r["key"] for r in kvops.range_scan(src, start, end).collect()]
        base = self._base_map()
        if base is not None:
            keys = [k for k in base if start <= k < end and k not in self._buf]
        else:
            keys = [
                r["key"] for r in kvops.range_scan(self._kv, start, end).collect()
                if r["key"] not in self._buf
            ]
        keys += [
            k for k, v in self._buf.items()
            if v is not _TOMBSTONE and start <= k < end
        ]
        return sorted(keys)

    def delete_range(self, start: str, end: str) -> "ToruaEngine":
        self._fold()
        self._kv = kvops.delete_range(self._kv, start, end)
        self._at_rest = None
        if self._map is not None:
            self._map = {k: v for k, v in self._map.items() if not start <= k < end}
        return self

    def list_keys(self, shard_id: int | None = None,
                  shard_hint: list[int] | None = None) -> list[str]:
        if shard_id is not None:
            if shard_hint is not None and set(shard_hint) != {shard_id}:
                raise ValueError(
                    f"conflicting scopes: shard_id={shard_id} vs "
                    f"shard_hint={shard_hint} — pass one"
                )
            shard_hint = [shard_id]
        df = kvops.list_keys(self._hinted(shard_hint))
        return [r["key"] for r in df.collect()]

    def _hinted(self, shard_hint: list[int] | None) -> DataFrame:
        """The folded kv relation scoped to a shard hint.
        Partition-column filter on the at-rest view when valid
        (directory pruning); routing-hash predicate otherwise."""
        self._fold()
        if shard_hint is None:
            return self._kv
        if self._at_rest is not None:
            return self._at_rest.filter(
                F.col("shard_id").isin([int(s) for s in shard_hint])
            ).select("key", "value")
        return self._kv.filter(
            kvops.shard_hint_filter(self.num_shards, shard_hint)
        )

    # --------------------------------------------------------- control path

    def route(self, key: str) -> tuple[int, str]:
        """key -> (shard_id, node_id), the coordinator's routing
        decision, computed on the driver: the same FNV-1a 32 as the
        ``shard_for_key`` expression ``checkpoint_to`` partitions by."""
        shard = fnv1a32_py(key) % self.num_shards
        node = self.node_list[shard % len(self.node_list)][0]
        return shard, node

    def shards(self) -> DataFrame:
        """GET /shards: the assignment table."""
        return topo.assignments_roundrobin(self.spark, self.num_shards, self.node_list)

    def nodes(self) -> DataFrame:
        """GET /nodes: the membership table."""
        return topo.nodes_df(self.spark, self.node_list)

    def stats(self) -> DataFrame:
        """Per-shard {keys, bytes} stats."""
        self._fold()
        return kvops.stats(self._kv, self.num_shards)

    def broadcast_stats(self) -> DataFrame:
        """POST /broadcast: per-node gather with sent_to."""
        self._fold()
        return topo.broadcast_gather(self._kv, self.spark, self.num_shards, self.node_list)

    def control(self, payload: dict | str | None = None) -> "ToruaEngine":
        """POST /control parity (cmd/node/main.go:236,334-341): the
        reference's control endpoint logs the payload and always
        returns success — "No actual control operations yet". Same
        contract here: log, mutate nothing, return self (chainable,
        the 204-no-content analogue)."""
        import logging

        logging.getLogger(__name__).info("control: %r", payload)
        return self

    def route_status(self, keys: list[str]) -> DataFrame:
        """Routing error trace for a batch of keys: the HTTP status
        the coordinator would answer per key — 503 unassigned shard /
        unregistered node, 502 unhealthy forward target, 200 ok
        (cmd/coordinator/main.go:525-528,563-586,650). Membership
        status comes from the engine's node list; assignment from the
        round-robin table."""
        kv = local_df(self.spark, [(k,) for k in keys], "key string")
        assigns = topo.assignments_roundrobin(
            self.spark, self.num_shards, self.node_list
        )
        nodes = topo.nodes_df(self.spark, self.node_list)
        return topo.route_status(kv, assigns, nodes, self.num_shards)

    # ---------------------------------------------------------- persistence

    def checkpoint_to(self, path: str) -> None:
        """Persist as shard-partitioned parquet: directory-per-shard IS
        the reference's shard placement at rest. A ``_torua_meta.json``
        sidecar records the shard count the layout was routed with and
        the value type (underscore-prefixed, so parquet readers skip it
        like _SUCCESS) — restore_from uses the first to decide whether
        the on-disk sharding is still THIS engine's sharding, and the
        second to restore an empty state, whose write leaves no parquet
        file to infer a schema from."""
        import json
        import pathlib

        self._fold()
        (
            self._kv.withColumn("shard_id", shard_for_key(F.col("key"), self.num_shards))
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(path)
        )
        # pathlib is local-FS only; on a Hadoop URI (hdfs://, s3a://)
        # the parquet write above succeeds and the sidecar is simply
        # skipped — restore_from degrades to the routing-predicate
        # path, exactly as for a pre-sidecar checkpoint
        if "://" not in path or path.startswith("file://"):
            local = path.split("://", 1)[-1] if "://" in path else path
            (pathlib.Path(local) / "_torua_meta.json").write_text(
                json.dumps({"num_shards": self.num_shards, "value_type": self.value_type})
            )

    @classmethod
    def restore_from(cls, spark: SparkSession, path: str, **kw) -> "ToruaEngine":
        """Restore from ``checkpoint_to`` output (or any parquet with
        key/value columns). ``num_shards`` defaults to the sidecar's
        recorded value; the at-rest partition view powering
        shard_hint directory pruning is enabled ONLY when the layout
        demonstrably matches this engine's routing — a shard_id
        column exists AND the sidecar shard count equals num_shards.
        Anything else (foreign parquet, an explicit num_shards
        override, a pre-sidecar checkpoint) falls back to the
        routing-predicate path, which is always self-consistent. A
        checkpoint with no parquet data file restores as an empty
        ``key string, value <sidecar value_type>`` state."""
        import json
        import pathlib

        meta = None
        # same scheme-strip as checkpoint_to: a file:// URI must find
        # the sidecar checkpoint_to wrote for it, or the round-trip
        # silently loses the num_shards inference + at-rest pruning
        local = path.split("://", 1)[-1] if path.startswith("file://") else path
        mp = pathlib.Path(local) / "_torua_meta.json"
        if mp.exists():
            meta = json.loads(mp.read_text())
        if meta is not None and "num_shards" not in kw:
            kw["num_shards"] = int(meta["num_shards"])
        if (
            meta is not None
            and "value_type" in meta
            and not any(pathlib.Path(local).rglob("*.parquet"))
        ):
            empty = local_df(spark, [], f"key string, value {meta['value_type']}")
            return cls(spark, empty, **kw)
        raw = spark.read.parquet(path)
        eng = cls(spark, raw.select("key", "value"), **kw)
        if (
            "shard_id" in raw.columns
            and meta is not None
            and int(meta["num_shards"]) == eng.num_shards
        ):
            eng._at_rest = raw
        return eng

    def dataframe(self) -> DataFrame:
        self._fold()
        return self._kv
