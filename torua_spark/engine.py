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

The engine is in one of two modes, chosen when its state is built (the
constructor, ``restore_from``) and never mixed: an in-memory serving
tier that flushes to immutable columnar files, which the batch engine
reads only when asked.

*Map mode* holds while the state fits under ``_MAP_MAX_BYTES`` of
measured key and value bytes, has no NULL key and a ``string`` or
``binary`` value type. The driver map ``_map`` is then the whole state:
``get``, ``multi_get``, an unhinted ``scan`` and every write go to it
with no Spark job and no JVM call, and ``checkpoint_to``/
``restore_from`` write and read it with pyarrow. The Spark relation
``_kv`` is built only when ``dataframe``, ``stats``,
``broadcast_stats``, ``list_keys`` or a ``shard_hint`` read asks: from
the published layout while nothing has been written since, otherwise
from the map through one Arrow ``createDataFrame``.

*Frame mode* covers the rest: a state over the ceiling, a base with a
NULL-key row, a write the map cannot hold (a non-``str`` key, a value
``local_df`` would CAST) and a map write that crosses the ceiling.
Writes go to a buffer (key -> value, or a tombstone) that reads consult
first; the rest of a read is one Spark job on ``_kv``. The buffer folds
into ``_kv`` through ``kvops.upsert``/``kvops.delete`` before a
whole-state read and on every 8th mutation, where the lineage is also
cut. An engine stays in frame mode once there. Both modes assume a
key-unique base, which every state the engine builds or checkpoints is.

``checkpoint_to`` writes shard-partitioned parquet (``shard_id=<n>/``
directories of ``key string, value <value_type>``: the directory per
shard IS the reference's shard placement) to a sibling temp tree and
renames it over the target once whole, so a checkpoint into the
directory the state is read from keeps that state. A local checkpoint
adds the ``_torua_meta.json`` sidecar; while its layout holds the
state, a ``shard_hint`` read filters the partition column, so Spark
prunes to the hinted shard directories.
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
# the Python types a value comes back from Spark as, per value_type: the
# value types map mode holds, and the values a write may carry without
# taking the engine to frame mode
_PY_TYPES = {"string": str, "binary": (bytes, bytearray)}
# bound on the map's measured bytes; a base is also checked by its file
# or plan-statistics size before a row of it is read
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
    return spark.read.schema(f"key string, value {value_type}, shard_id int").parquet(path)


def _siblings(path: str) -> tuple[str, str]:
    """The temp tree a checkpoint into ``path`` is written to, and the
    name the old tree takes while the new one is published."""
    parent, _, name = path.rstrip("/").rpartition("/")
    tag = uuid.uuid4().hex
    return tuple(f"{parent}/.{name}.{kind}_{tag}" for kind in ("ckpt_tmp", "ckpt_trash"))


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
        kv ops only compare keys and measure/order values).

        A ``kv`` base that sizes under the map ceiling by plan
        statistics is collected with one job to decide the mode."""
        self.spark = spark
        self.num_shards = num_shards
        self.node_list = nodes or NODES
        self.value_type = value_type
        # map mode: the state, key -> value, and its measured bytes;
        # None in frame mode
        self._map: dict | None = None
        self._map_bytes = 0
        # frame mode: writes not yet folded into _kv, key -> value or
        # _TOMBSTONE, and the mutation count that paces the folds
        self._buf: dict = {}
        self._mutations = 0
        # the Spark relation behind _kv, None until built; and the local
        # directory of the published layout while it holds the state
        self._rel = kv
        self._src: str | None = None
        if kv is None:
            self._hold([])
        else:
            stats = kv._jdf.queryExecution().optimizedPlan().stats()
            if int(str(stats.sizeInBytes())) < _MAP_MAX_BYTES:
                self._hold(kv.collect())

    def _hold(self, rows: list | None) -> None:
        """Enter map mode over ``rows`` when they fit under the ceiling
        and hold no NULL key; frame mode otherwise, or for None."""
        m = {r["key"]: r["value"] for r in rows or ()}
        size = sum(_entry_bytes(k, v) for k, v in m.items() if k is not None)
        fits = rows is not None and None not in m and self.value_type in _PY_TYPES
        self._map, self._map_bytes = (m, size) if fits and size < _MAP_MAX_BYTES else (None, 0)

    @property
    def _kv(self) -> DataFrame:
        """The state (in frame mode, without the write buffer) as a Spark
        relation, built on first use: from the published layout while
        it holds the state, otherwise from the map through Arrow (an
        empty map for an engine that starts empty in frame mode)."""
        if self._rel is None:
            if self._src is not None:
                self._rel = self._at_rest.select("key", "value")
            else:
                m = self._map or {}
                self._rel = self.spark.createDataFrame(
                    self._arrow(list(m), list(m.values())),
                    f"key string, value {self.value_type}",
                )
        return self._rel

    def _arrow(self, keys: list, values: list):
        """A pyarrow table of the layout's ``key string, value
        <value_type>`` columns."""
        import pyarrow as pa

        value_type = {"string": pa.string(), "binary": pa.binary()}.get(self.value_type)
        return pa.table({"key": pa.array(keys, pa.string()),
                         "value": pa.array(values, value_type)})

    @property
    def _at_rest(self) -> DataFrame | None:
        """The published layout with its ``shard_id`` partition column,
        while it holds the state: the view a ``shard_hint`` read prunes
        directories of. None otherwise, where the hint is a routing
        predicate per row."""
        if self._src is None:
            return None
        return _read_layout(self.spark, f"file://{self._src}", self.value_type)

    # ------------------------------------------------------------ data path

    def get(self, key: str) -> str | None:
        """GET /data/{key}: value or None (the 404 path)."""
        if self._map is not None:
            return self._map.get(key)
        if key in self._buf:
            value = self._buf[key]
            return None if value is _TOMBSTONE else value
        rows = kvops.point_get(self._kv, key).take(1)
        return rows[0]["value"] if rows else None

    def multi_get(self, keys: list[str]) -> dict[str, str]:
        if self._map is not None:
            return {k: self._map[k] for k in keys if k in self._map}
        out, rest = {}, []
        for k in keys:
            if k not in self._buf:
                rest.append(k)
            elif self._buf[k] is not _TOMBSTONE:
                out[k] = self._buf[k]
        if rest:
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
        if not all(
            isinstance(k, str) and (v is None or isinstance(v, types))
            for k, v in items
        ):
            return self._write_through(items, [])
        batch: dict = {}
        for k, v in items:
            if isinstance(v, bytearray):
                v = bytes(v)  # Spark hands binary back as bytes
            old = batch.get(k)
            if old is None or (v is not None and v > old):
                batch[k] = v
        return self._write(batch)

    def delete(self, *keys: str) -> "ToruaEngine":
        """DELETE /data/{key}: idempotent."""
        if all(isinstance(k, str) for k in keys):
            return self._write(dict.fromkeys(keys, _TOMBSTONE))
        return self._write_through([], [(k,) for k in keys])

    def _write(self, entries: dict) -> "ToruaEngine":
        """Apply ``entries`` (key -> value or _TOMBSTONE, a later batch
        beating an earlier one) to the map, leaving map mode if its
        measured bytes reach the ceiling; in frame mode, record them in
        the buffer, and fold and cut the lineage on every 8th mutation
        so neither the buffer nor the state plan grows without bound
        (the role of log compaction)."""
        if self._map is not None:
            for k, v in entries.items():
                if k in self._map:
                    self._map_bytes -= _entry_bytes(k, self._map.pop(k))
                if v is not _TOMBSTONE:
                    self._map[k] = v
                    self._map_bytes += _entry_bytes(k, v)
            self._rel = self._src = None
            if self._map_bytes >= _MAP_MAX_BYTES:
                self._rel, self._map = self._kv.localCheckpoint(eager=False), None
            return self
        self._buf.update(entries)
        self._mutations += 1
        if self._mutations % 8 == 0:
            self._fold()
            self._rel = self._kv.localCheckpoint(eager=False)
        return self

    def _write_through(self, puts: list, tombs: list) -> "ToruaEngine":
        """A write neither the map nor the buffer can hold (a non-``str``
        key, a value that local_df CASTs) goes straight to ``_kv``, in
        frame mode."""
        if self._map is not None:
            self._rel, self._map = self._kv.localCheckpoint(eager=False), None
        self._fold()
        self._apply(puts, tombs)
        return self._write({})

    def _fold(self) -> None:
        """Apply the write buffer to ``_kv``: one upsert of the buffered
        values and one anti-join of the tombstones."""
        if self._buf:
            self._apply(
                [(k, v) for k, v in self._buf.items() if v is not _TOMBSTONE],
                [(k,) for k, v in self._buf.items() if v is _TOMBSTONE],
            )
            self._buf = {}

    def _apply(self, puts: list, tombs: list) -> None:
        if puts:
            self._rel = kvops.upsert(self._kv, local_df(
                self.spark, puts, f"key string, value {self.value_type}"
            ))
        if tombs:
            self._rel = kvops.delete(
                self._kv, local_df(self.spark, tombs, "key string")
            )
        self._src = None

    def scan(self, start: str, end: str,
             shard_hint: list[int] | None = None) -> list[str]:
        """Sorted lexicographic [start, end) key scan. ``shard_hint``
        scopes execution to the named shards (the query-message field,
        ARCHITECTURE.md:327-339): while the published layout holds the
        state the hint filters its partition column — Spark prunes to
        the hinted shard DIRECTORIES, the coordinator's
        fan-out-to-fewer-nodes behavior — otherwise it applies the
        routing predicate per row. An unhinted scan reads the map, or
        in frame mode merges the base keys in range with the buffer."""
        if shard_hint is not None:
            src = self._hinted(shard_hint)
            return [r["key"] for r in kvops.range_scan(src, start, end).collect()]
        if self._map is not None:
            return sorted(k for k in self._map if start <= k < end)
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
        if self._map is not None:
            return self._write({k: _TOMBSTONE for k in self._map if start <= k < end})
        self._fold()
        self._rel = kvops.delete_range(self._kv, start, end)
        self._src = None
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
        if self._src is not None:
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
        return kvops.stats(self._hinted(None), self.num_shards)

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

        The state goes to a sibling temp tree, written from the map with
        pyarrow in map mode (no Spark job, no JVM call) and by Spark in
        frame mode, and is published over ``path`` by a two-rename
        swap; from then on ``_kv`` reads the published layout. A Hadoop
        URI gets the Spark write, a swap through the Hadoop FileSystem
        and no sidecar, so restore_from degrades to the
        routing-predicate path, as for a pre-sidecar checkpoint."""
        self._fold()
        local = _local_path(path)
        if local is None:
            self._publish_uri(path)
            return
        local = os.path.abspath(local)
        tmp, trash = _siblings(local)
        try:
            if self._map is not None:
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
        self._rel, self._src = None, local

    def _publish_uri(self, path: str) -> None:
        """The Spark write into a sibling temp tree of a Hadoop URI,
        renamed over ``path`` through the Hadoop FileSystem: ``path``,
        which ``_kv`` may read, is deleted only once the new tree is
        whole."""
        tmp = _siblings(path)[0]
        self._spark_write(tmp)
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path
        fs = hpath(path).getFileSystem(self.spark._jsc.hadoopConfiguration())
        fs.delete(hpath(path), True)
        if not fs.rename(hpath(tmp), hpath(path)):
            raise OSError(f"checkpoint_to: the state is in {tmp}, not renamed to {path}")
        self._rel = _read_layout(self.spark, path, self.value_type).select("key", "value")

    def _spark_write(self, dest: str) -> None:
        (
            self._kv.withColumn("shard_id", shard_for_key(F.col("key"), self.num_shards))
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(dest)
        )

    def _write_map(self, dest: str) -> None:
        """The map as the layout ``_spark_write`` gives, written with
        pyarrow: one file per non-empty shard directory."""
        import pyarrow.parquet as pq

        shards: dict[int, tuple[list, list]] = {}
        for k, v in self._map.items():
            keys, values = shards.setdefault(fnv1a32_py(k) % self.num_shards, ([], []))
            keys.append(k)
            values.append(v)
        os.makedirs(dest)
        for shard, (keys, values) in shards.items():
            os.mkdir(os.path.join(dest, f"shard_id={shard}"))
            pq.write_table(self._arrow(keys, values),
                           os.path.join(dest, f"shard_id={shard}", "part-00000.parquet"))
        open(os.path.join(dest, "_SUCCESS"), "w").close()

    @classmethod
    def restore_from(cls, spark: SparkSession, path: str, **kw) -> "ToruaEngine":
        """Restore from ``checkpoint_to`` output (or any parquet with
        key/value columns). ``num_shards`` and ``value_type`` default to
        the sidecar's recorded values; a ``value_type`` that differs
        from the recorded one raises. A checkpoint whose sidecar shard
        count is num_shards is read on the driver with pyarrow when its
        files size under the map ceiling, and enters map mode with no
        JVM call when its rows do; otherwise it is frame mode over the
        layout, read with the sidecar's schema (no inference job). Only
        such a layout powers shard_hint directory pruning. Anything
        else (an explicit num_shards override, foreign parquet, a
        Hadoop URI, a pre-sidecar checkpoint) is a base the constructor
        decides the mode of, and takes the routing-predicate path,
        which is always self-consistent."""
        local = _local_path(path)
        meta = {}
        if local is not None and (pathlib.Path(local) / _META).exists():
            meta = json.loads((pathlib.Path(local) / _META).read_text())
            kw.setdefault("num_shards", int(meta["num_shards"]))
        recorded = meta.get("value_type")
        if recorded is not None and kw.setdefault("value_type", recorded) != recorded:
            raise ValueError(f"conflicting value types: value_type={kw['value_type']!r}"
                             f" vs the checkpoint's {recorded!r} — pass one")
        if recorded is None or kw["num_shards"] != int(meta["num_shards"]):
            raw = spark.read.parquet(path) if recorded is None else _read_layout(
                spark, path, recorded
            )
            return cls(spark, raw.select("key", "value"), **kw)
        eng = cls(spark, **kw)
        eng._src = os.path.abspath(local)
        # file by file: a directory read infers the shard_id partition
        # type, which fails when the only directory is the NULL key's
        files = [str(p) for p in pathlib.Path(local).rglob("*.parquet")]
        eng._hold(
            [r for f in files for r in read_small_parquet_rows(spark, f)]
            if sum(map(os.path.getsize, files)) < _MAP_MAX_BYTES else None
        )
        return eng

    def dataframe(self) -> DataFrame:
        return self._hinted(None)
