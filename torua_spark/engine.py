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
the buffer (key -> value, or a tombstone). An engine built with no
``kv`` starts with an empty map. Otherwise the first read that misses
the buffer sizes the base, by the file bytes of a restored checkpoint
or by plan statistics (no job), and under ``_MAP_MAX_BYTES`` fills the
map: from a checkpoint's parquet files with pyarrow on the driver, from
any other base with one collect job. ``get``, ``multi_get`` and an
unhinted ``scan`` then answer from the buffer first and the map second,
with no Spark job; over the ceiling they run one job per read against
the base. The ceiling bounds the map's measured bytes (key and value
lengths), counted as hydration fills it and as each fold grows it; a
map that reaches it is dropped for job-per-read. The map stays exact
because ``_kv`` changes in three places only: a fold applies the buffer
to the map as well (puts overwrite, tombstones pop), ``delete_range``
drops its range from it, and a write that skips the buffer (a
non-``str`` key, a value of the wrong Python type) clears it, so the
next read hydrates again. The map holds no NULL key: SQL ``=`` and
range predicates never return such a row. A map is *whole* when
hydration left no NULL-key row out.

The buffer folds into the base through ``kvops.upsert``/``kvops.delete``
before ``dataframe``, ``stats``, ``broadcast_stats``, ``list_keys``,
``delete_range`` and any ``shard_hint`` read, and on every 8th
mutation, where the lineage is also cut. Buffer and map assume a
key-unique base, which every state the engine builds or checkpoints is.

``checkpoint_to`` / ``restore_from`` persist the state as
shard-partitioned parquet: the directory per shard IS the reference's
shard placement. On a local path, when the map is whole, the checkpoint
folds the buffer into the map only and writes the map with pyarrow on
the driver, in the layout Spark writes (``shard_id=<n>/`` directories
of ``key string, value <value_type>``), with no Spark job; otherwise
Spark folds and writes it. Either writer writes a sibling temp tree and
publishes it with ``sources.io.tree_swap_publish``, so a checkpoint
into the directory the state was restored from keeps that state, and
from then on the base is the published layout. A Hadoop URI (hdfs://,
s3a://) keeps the Spark write straight into the target, with no sidecar
and no swap. ``restore_from`` reads an engine checkpoint with the
sidecar's schema (no inference job) and keeps its at-rest layout for
``shard_hint`` reads until a fold: those filter the partition column,
so Spark prunes to the hinted shard directories.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from torua_spark.constants import NODES, NUM_SHARDS
from torua_spark.functions.hashing import fnv1a32_py, shard_for_key
from torua_spark.operators import kv as kvops
from torua_spark.operators import topology as topo
from torua_spark.sources.io import read_small_parquet_rows, tree_swap_publish
from torua_spark.sources.local import local_df

# write-buffer marker of a deleted key
_TOMBSTONE = object()
# the Python types a value comes back from Spark as, per value_type; a
# batch holding any other value (an int that local_df would CAST) skips
# the buffer and takes the DataFrame path. Only these value types have
# a driver checkpoint writer.
_PY_TYPES = {"string": str, "binary": (bytes, bytearray)}
# bound on the read map's measured bytes; the first base read also
# checks the base's file or plan-statistics size against it before it
# reads a row
_MAP_MAX_BYTES = 64 << 20
_META = "_torua_meta.json"


def _entry_bytes(key: str, value) -> int:
    return len(key) + (len(value) if value is not None else 0)


def _local_path(path: str) -> str | None:
    """``path`` on the local filesystem (a ``file://`` URI stripped), or
    None for a Hadoop URI (hdfs://, s3a://)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    return None if "://" in path else path


def _read_layout(spark: SparkSession, path: str, value_type: str) -> DataFrame:
    """A checkpoint's layout, read with the schema its sidecar records."""
    return spark.read.schema(
        f"key string, value {value_type}, shard_id int"
    ).parquet(path)


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
        # read (which sets _sized); None until then, and once its
        # measured bytes (_map_bytes) reach _MAP_MAX_BYTES. _whole is
        # False when hydration left out a NULL-key row of _kv.
        self._map: dict | None = None
        self._map_bytes = 0
        self._whole = True
        self._sized = False
        # at-rest shard-partitioned view (set by restore_from and
        # checkpoint_to): lets shard_hint reads filter the PARTITION
        # column — directory pruning — instead of computing the routing
        # hash per row. _src is the local directory it reads, which
        # hydration reads with pyarrow. A fold or mutation that changes
        # _kv invalidates both.
        self._at_rest: DataFrame | None = None
        self._src: str | None = None
        if kv is None:
            self._sized = True
            self._fill([])

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

    def _fold(self, map_only: bool = False) -> None:
        """Apply the write buffer to the read map, measured against the
        ceiling, and to ``_kv``: one upsert of the buffered values and
        one anti-join of the tombstones. ``map_only`` leaves ``_kv``
        alone while the map holds, for a caller that rewrites ``_kv``
        from the map."""
        if not self._buf:
            return
        if self._map is not None:
            for k, v in self._buf.items():
                if k in self._map:
                    self._map_bytes -= _entry_bytes(k, self._map.pop(k))
                if v is not _TOMBSTONE:
                    self._map[k] = v
                    self._map_bytes += _entry_bytes(k, v)
            if self._map_bytes >= _MAP_MAX_BYTES:
                self._map = None
        if self._map is None or not map_only:
            self._apply(
                [(k, v) for k, v in self._buf.items() if v is not _TOMBSTONE],
                [(k,) for k, v in self._buf.items() if v is _TOMBSTONE],
            )
        self._buf = {}

    def _base_map(self) -> dict | None:
        """``_kv`` as a driver map, filled by the first call if the base
        sizes under ``_MAP_MAX_BYTES``: a restored checkpoint by its
        file bytes, read with pyarrow, any other base by plan
        statistics, collected with one job. None above the ceiling,
        where reads run a job against ``_kv``."""
        if not self._sized:
            self._sized = True
            if self._src is not None:
                # file by file: a directory read infers the shard_id
                # partition type, which fails when the only directory is
                # the NULL key's
                files = [str(p) for p in pathlib.Path(self._src).rglob("*.parquet")]
                if sum(map(os.path.getsize, files)) < _MAP_MAX_BYTES:
                    self._fill([
                        r for f in files for r in read_small_parquet_rows(self.spark, f)
                    ])
            else:
                stats = self._kv._jdf.queryExecution().optimizedPlan().stats()
                if int(str(stats.sizeInBytes())) < _MAP_MAX_BYTES:
                    self._fill(self._kv.collect())
        return self._map

    def _fill(self, rows: list) -> None:
        """Hold the non-NULL-key ``rows`` as the read map, unless their
        measured bytes reach the ceiling."""
        m = {r["key"]: r["value"] for r in rows if r["key"] is not None}
        size = sum(_entry_bytes(k, v) for k, v in m.items())
        if size < _MAP_MAX_BYTES:
            self._map, self._map_bytes, self._whole = m, size, len(m) == len(rows)

    def _apply(self, puts: list, tombs: list) -> None:
        if puts:
            self._kv = kvops.upsert(self._kv, local_df(
                self.spark, puts, f"key string, value {self.value_type}"
            ))
        if tombs:
            self._kv = kvops.delete(
                self._kv, local_df(self.spark, tombs, "key string")
            )
        self._at_rest = self._src = None

    def scan(self, start: str, end: str,
             shard_hint: list[int] | None = None) -> list[str]:
        """Sorted lexicographic [start, end) key scan. ``shard_hint``
        scopes execution to the named shards (the query-message field,
        ARCHITECTURE.md:327-339): right after a restore or a local
        checkpoint the hint filters the at-rest layout's partition
        column — Spark prunes to the hinted shard DIRECTORIES, the
        coordinator's fan-out-to-fewer-nodes behavior — otherwise it
        applies the routing predicate per row. An unhinted scan merges
        the base keys in range, from the read map when there is one,
        with the write buffer."""
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
        self._at_rest = self._src = None
        if self._map is not None:
            for k in [k for k in self._map if start <= k < end]:
                self._map_bytes -= _entry_bytes(k, self._map.pop(k))
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
        like _SUCCESS): restore_from uses the first to decide whether
        the on-disk sharding is still THIS engine's sharding, and the
        second as the schema it reads the layout with.

        On a local path the state goes to a sibling temp tree, written
        from the read map on the driver when the map is whole (no Spark
        job, no kv fold) and by Spark otherwise, and is published over
        ``path`` by a two-rename swap; ``_kv`` then reads the published
        layout. A Hadoop URI takes the Spark write straight into
        ``path`` and no sidecar, so restore_from degrades to the
        routing-predicate path, as for a pre-sidecar checkpoint."""
        local = _local_path(path)
        if local is None:
            self._fold()
            self._spark_write(path)
            return
        local = os.path.abspath(local)
        self._base_map()
        driver = (
            self._map is not None and self._whole and self.value_type in _PY_TYPES
        )
        self._fold(map_only=driver)
        parent, name = os.path.split(local)
        tag = uuid.uuid4().hex
        tmp, trash = (
            os.path.join(parent, f".{name}.{kind}_{tag}")
            for kind in ("ckpt_tmp", "ckpt_trash")
        )
        try:
            if driver and self._map is not None:
                self._write_map(tmp)
            else:
                self._spark_write(f"file://{tmp}")
            (pathlib.Path(tmp) / _META).write_text(json.dumps(
                {"num_shards": self.num_shards, "value_type": self.value_type}
            ))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if os.path.exists(local):
            tree_swap_publish(local, tmp, trash)
        else:
            os.rename(tmp, local)
        raw = _read_layout(self.spark, f"file://{local}", self.value_type)
        self._kv, self._at_rest, self._src = raw.select("key", "value"), raw, local

    def _spark_write(self, dest: str) -> None:
        (
            self._kv.withColumn("shard_id", shard_for_key(F.col("key"), self.num_shards))
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(dest)
        )

    def _write_map(self, dest: str) -> None:
        """The read map as the layout ``_spark_write`` gives, written
        with pyarrow: one file per non-empty shard directory."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        shards: dict[int, tuple[list, list]] = {}
        for k, v in self._map.items():
            keys, values = shards.setdefault(fnv1a32_py(k) % self.num_shards, ([], []))
            keys.append(k)
            values.append(v)
        value_type = pa.string() if self.value_type == "string" else pa.binary()
        os.makedirs(dest)
        for shard, (keys, values) in shards.items():
            os.mkdir(os.path.join(dest, f"shard_id={shard}"))
            pq.write_table(
                pa.table({"key": pa.array(keys, pa.string()),
                          "value": pa.array(values, value_type)}),
                os.path.join(dest, f"shard_id={shard}", "part-00000.parquet"),
            )
        open(os.path.join(dest, "_SUCCESS"), "w").close()

    @classmethod
    def restore_from(cls, spark: SparkSession, path: str, **kw) -> "ToruaEngine":
        """Restore from ``checkpoint_to`` output (or any parquet with
        key/value columns). ``num_shards`` and ``value_type`` default to
        the sidecar's recorded values, and a checkpoint with a sidecar
        is read with the sidecar's schema, with no inference job; its
        first base read hydrates the map with pyarrow. The at-rest
        partition view powering shard_hint directory pruning is enabled
        ONLY when the layout demonstrably matches this engine's routing
        — a shard_id column exists AND the sidecar shard count equals
        num_shards. Anything else (foreign parquet, an explicit
        num_shards override, a pre-sidecar checkpoint) falls back to
        the routing-predicate path, which is always self-consistent."""
        local = _local_path(path)
        meta, value_type = None, None
        if local is not None and (pathlib.Path(local) / _META).exists():
            meta = json.loads((pathlib.Path(local) / _META).read_text())
            kw.setdefault("num_shards", int(meta["num_shards"]))
            value_type = meta.get("value_type")
        if value_type is not None:
            kw.setdefault("value_type", value_type)
            raw = _read_layout(spark, path, value_type)
        else:
            raw = spark.read.parquet(path)
        eng = cls(spark, raw.select("key", "value"), **kw)
        if value_type is not None:
            eng._src = os.path.abspath(local)
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
