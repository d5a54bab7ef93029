"""Source/sink connectors beyond the parquet catalog.

The reference has no file formats at all (HTTP bodies into an
in-memory map, internal/storage/store.go:232-242); an analytics engine
needs real ones. Everything rides Spark's native readers/writers:

- parquet: the default (columnar, predicate pushdown, column pruning)
- csv/json: schema-explicit readers (never inferSchema in production —
  one pass saved and deterministic types)
- partitioned parquet sink: hive-style dt= layout for partition-pruned
  scans — the 100 TB landing pattern
- Delta/Iceberg: declared non-goal (SURVEY §7) — lakehouse table
  formats are a storage-layer concern and their jars are not in this
  image; the committed sink contract is parquet + hive dt= layout +
  sorted row groups. In a delta-bearing deployment the swap is
  one-line (``df.write.format("delta").save(path)``) because every
  sink here goes through the DataFrameWriter API.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, types as T


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_time_partitioned(df: DataFrame, path: str, ts_col: str = "ts",
                           cluster_cols: list[str] | None = None,
                           mode: str = "overwrite") -> None:
    """The 100 TB event-landing layout (reference B14 'index usage',
    ARCHITECTURE.md:543, realized as file layout instead of per-shard
    indexes): hive-style ``dt=YYYY-MM-DD`` directories for partition
    pruning + an intra-partition sort on ``cluster_cols`` so parquet
    row-group min/max statistics are tight on those columns (the
    poor-man's Z-order — point/range predicates skip whole row groups
    without any index structure). A time-range query touches only its
    dt= directories; a (dt, event_type) query additionally skips
    non-matching row groups inside them."""
    from pyspark.sql import functions as F

    out = df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
    if cluster_cols:
        out = out.repartition("dt").sortWithinPartitions(*cluster_cols)
    out.write.mode(mode).partitionBy("dt").parquet(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (native; same pushdown/pruning contract as parquet)."""
    df.write.mode(mode).orc(path)




def compact_files(spark: SparkSession, path: str, out_path: str,
                  target_mb: int = 128,
                  sort_cols: list[str] | None = None,
                  n_files: int | None = None) -> dict:
    """Small-file compaction (the OPTIMIZE/bin-packing rewrite, here
    on plain parquet): streaming sinks and incremental ingest land one
    file per trigger per partition, and at 100 TB the resulting
    file-count explosion dominates scan planning time (every query
    pays a per-file open + footer read — millions of 1 MB files is
    the classic lakehouse failure mode). Rewrite the directory into
    ceil(bytes / target_mb) files, optionally re-sorting so row-group
    min/max statistics stay selective after the merge.

    Sizing comes from the FILE LISTING (driver-side metadata, never
    the data) unless ``n_files`` pins the output count explicitly
    (deterministic layouts for tests/oracles); the rewrite itself is
    one coalesce-free repartition so output files are balanced
    regardless of input skew. Returns a count/size report; the
    caller-visible invariant (row count and content checksum
    preserved) is pinned in tests/test_layout.py.
    """
    import math
    import os
    import pathlib

    ap, ao = os.path.abspath(path), os.path.abspath(out_path)
    common = os.path.commonpath([ap, ao])
    # reject BOTH nesting directions: out inside in (later reads of
    # `path` double-count) AND out as an ANCESTOR of in (the
    # mode("overwrite") write recursively deletes out_path — including
    # the still-being-read input underneath it)
    if ao == ap or common == ap or common == ao:
        # Spark writes lazily INTO the directory it is still reading
        # from — an in-place "compaction" would truncate the input
        # mid-scan and destroy the table (ADVICE r5); a NESTED out_path
        # is just as fatal later: the output files land inside the
        # input table directory, so every subsequent read of `path`
        # double-counts rows (ADVICE r6).
        raise ValueError(
            f"compact_files: out_path ({out_path!r}) must be outside the "
            f"input table directory ({path!r}) — in-place or nested "
            f"output corrupts the table for later readers"
        )

    files = [f for f in pathlib.Path(path).rglob("*.parquet")]
    in_bytes = sum(f.stat().st_size for f in files)
    n_out = n_files or max(1, math.ceil(in_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(out_path)
    out_files = [f for f in pathlib.Path(out_path).rglob("*.parquet")]
    return {
        "in_files": len(files),
        "out_files": len(out_files),
        "in_bytes": in_bytes,
        "out_bytes": sum(f.stat().st_size for f in out_files),
    }



# --- maintenance-rewrite sizing and overlap (r14 optimization) --------------
# A partition rewrite used to write with however many partitions its
# plan arrived in — inside foreachBatch (AQE is disabled on micro-batch
# plans) that is the full spark.sql.shuffle.partitions, so a 3-row
# update landed 33 near-empty files per partition dir and every later
# read paid 33 file opens (guide §6 small-files, measured in the
# streaming_lake_cdc job profile: 33/65-task jobs over kB of data).
# Rewrites now size their output from the INPUT BYTES of the live
# partition (the compact_files pattern — driver-side listing, never a
# data job): ceil(bytes / target_mb) files, so the local fixture gets
# 1 file and a 100 TB partition keeps bytes/128MB-way parallelism.
# Brand-new partitions have no bytes to list; they size from the batch
# row count at a conservative rows-per-file.
_LAKE_TARGET_FILE_MB = 128
_LAKE_INSERT_ROWS_PER_FILE = 4_000_000
# Independent partition rewrites overlap from a small driver thread
# pool (guide §2.6): each rewrite is one small job + two renames, and
# FIFO scheduling back-fills the tail of one rewrite with the next.
_LAKE_REWRITE_THREADS = 4


def _dir_parquet_bytes(path: str) -> int:
    import pathlib

    return sum(f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet"))


def _rewrite_files(existing_bytes: int, n_rows: int | None = None) -> int:
    """Output file count for one partition rewrite: bytes-derived when
    the live partition exists, row-derived for brand-new partitions."""
    import math

    if existing_bytes > 0:
        return max(1, math.ceil(existing_bytes / (_LAKE_TARGET_FILE_MB * 1024 * 1024)))
    return max(1, math.ceil((n_rows or 1) / _LAKE_INSERT_ROWS_PER_FILE))


def _overlap_partition_jobs(fn, values) -> None:
    """Run one independent per-partition maintenance job per value,
    overlapped from a small driver thread pool (guide §2.6). Results
    are deterministic: each job touches only its own partition dir and
    the shared report numbers are computed before/after the loop."""
    values = list(values)
    if len(values) <= 1:
        for v in values:
            fn(v)
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(_LAKE_REWRITE_THREADS, len(values))
    ) as pool:
        # list(...) propagates the first exception; a partial rewrite
        # is exactly the crash class _recover_swaps already heals.
        list(pool.map(fn, values))


def _partition_dir(path: str, partition_col: str, value) -> str:
    """Hive directory for one partition value. Restricted to the
    simple value space ([A-Za-z0-9_.-]) — hive-escaped values (%xx
    encoding of spaces/slashes/unicode) would need the escaping
    table; fail loudly rather than write a mis-named directory."""
    import re

    s = str(value)
    if not re.fullmatch(r"[\w.-]+", s):
        raise ValueError(
            f"partition value {value!r} needs hive escaping — "
            f"targeted rewrite supports simple values only"
        )
    return f"{path}/{partition_col}={s}"


def _recover_swaps(path: str, partition_col: str) -> list[str]:
    """Self-heal a lake directory after a crashed maintenance pass.
    For every leftover ``.{op}_trash_{partition_col}=v`` marker:
    live present -> the swap completed, drop the trash; live absent
    with tmp present -> crash landed between the two renames, roll
    FORWARD (the rewrite was complete or the trash would still be
    live); otherwise roll BACK trash to live. Orphan tmp dirs (no
    trash -> crash mid-write, live untouched) are discarded. Runs at
    the top of every purge/merge so a re-run after any injected crash
    point converges (fault-injection pytest in tests/test_io.py)."""
    import pathlib
    import shutil

    recovered = []
    for op in ("purge", "merge"):
        for trash in pathlib.Path(path).glob(f".{op}_trash_{partition_col}=*"):
            pv = trash.name.split("=", 1)[1]
            live = pathlib.Path(_partition_dir(path, partition_col, pv))
            tmp = pathlib.Path(f"{path}/.{op}_tmp_{partition_col}={pv}")
            if live.exists():
                shutil.rmtree(trash)
            elif tmp.exists():
                tmp.rename(live)
                shutil.rmtree(trash)
            else:
                trash.rename(live)
            recovered.append(trash.name)
        for tmp in pathlib.Path(path).glob(f".{op}_tmp_{partition_col}=*"):
            shutil.rmtree(tmp)
    return recovered


def purge_keys(spark: SparkSession, path: str, keys, key_col: str,
               partition_col: str) -> dict:
    """Targeted delete over a hive-partitioned parquet lake — the
    100 TB form of the reference's DELETE (A3, store.go idempotent
    delete) and range-delete (A6): a right-to-be-forgotten pass must
    remove a handful of keys from a petabyte table WITHOUT rewriting
    the petabyte.

    Plan: one COLUMN-pruned scan (the parquet reader touches only the
    key and partition columns, with row-group stats skipping) discovers
    which ``partition_col`` values actually contain the keys (driver
    gets a value list, partition-count-sized); ONLY those directories are
    rewritten with an anti-join; every other partition's files are
    untouched bytes (asserted by mtime in tests). Delete cost scales
    with the data that actually holds the keys, not the table — the
    same contract Delta DELETE gives via file-level skipping, here on
    plain parquet + hive layout.

    ``keys`` is a list of values or a 1-column DataFrame. Idempotent:
    purging absent keys rewrites nothing (A3's no-op delete).

    Durability caveat (shared with merge_upsert): plain parquet has no
    transaction log, so the per-partition swap is crash-atomic per
    PARTITION, not per call. The swap protocol (``tree_swap_publish``)
    narrows the vulnerable span to two directory
    renames — write tmp -> rename(live -> trash) -> rename(tmp ->
    live) -> delete trash — and keeps the original bytes in ``trash``
    until the new data is live, so every crash point is recoverable:
    each run starts with ``_recover_swaps`` (roll forward / roll
    back), making a re-run after any mid-swap failure converge
    (fault-injection pytest). That remaining two-rename window is what
    lakehouse table formats close with a log; on this storage
    contract, run maintenance under external coordination.
    """
    import pathlib

    from pyspark.sql import functions as F

    from torua_spark.sources.local import local_df

    _recover_swaps(path, partition_col)

    if not isinstance(keys, DataFrame):
        keys = local_df(spark, [(k,) for k in keys], f"{key_col} string")
    keys = keys.select(key_col)

    # ONE column-pruned discovery scan yields both the hit-partition
    # list and the per-partition delete counts (the old shape re-
    # counted every partition inside the loop — 2 extra jobs per
    # partition for numbers this one aggregate already knows).
    table = spark.read.parquet(path)
    hits = {
        r[0]: r[1]
        for r in (
            table.join(F.broadcast(keys), key_col, "left_semi")
            .groupBy(partition_col)
            .count()
            .collect()
        )
    }
    hit_parts = sorted(hits)
    # Validate EVERY target before the first rewrite: a mid-loop
    # failure on partition k would otherwise leave 0..k-1 rewritten
    # with the report lost.
    part_dirs = {pv: _partition_dir(path, partition_col, pv) for pv in hit_parts}

    def _rewrite(pv) -> None:
        part_dir = part_dirs[pv]
        # one job per partition: anti-join straight into the temp dir
        # (the source files are this read's input, so never overwrite
        # in place), then swap. Output sized from the live partition's
        # bytes (r14: the plan's input partitioning would otherwise
        # dictate the file count — 30+ near-empty files under a
        # shuffled source).
        kept = spark.read.parquet(part_dir).join(
            F.broadcast(keys), key_col, "left_anti"
        )
        tmp = f"{path}/.purge_tmp_{partition_col}={pv}"
        kept.coalesce(_rewrite_files(_dir_parquet_bytes(part_dir))).write.mode(
            "overwrite"
        ).parquet(tmp)
        tree_swap_publish(part_dir, tmp, f"{path}/.purge_trash_{partition_col}={pv}")

    _overlap_partition_jobs(_rewrite, hit_parts)
    rows_deleted = sum(hits.values())
    return {
        "partitions_total": len(
            [p for p in pathlib.Path(path).glob(f"{partition_col}=*")]
        ),
        "partitions_rewritten": len(hit_parts),
        "rows_deleted": rows_deleted,
    }


def merge_upsert(spark: SparkSession, path: str, updates: DataFrame,
                 key_col: str, partition_col: str,
                 version_col: str | None = None) -> dict:
    """Partition-targeted last-writer-wins MERGE into a hive-
    partitioned parquet lake — the reference's PUT upsert (A2,
    store.go LWW) at lake scale, completing the CRUD triple with
    ``purge_keys`` (delete) and ``compact_files`` (maintenance).

    Updates must carry ``partition_col`` (rows land in their
    partition). Each affected partition is rewritten once as
    (existing rows anti-joined on updated keys) UNION (updates for
    that partition): upsert cost scales with the partitions receiving
    writes, not the table — non-hit partitions keep their exact
    files. This is the nightly-merge shape a CDC pipeline runs when
    the table format is plain parquet.

    In-batch duplicate keys resolve by max ``version_col`` when given
    (the CDC sequence/LSN column — the only order that survives a
    shuffled updates relation). Without one, a physical row sequence
    breaks ties, which tracks input order ONLY for a batch that has
    not been repartitioned since creation — pass ``version_col`` for
    real CDC streams. Durability caveat: see ``purge_keys``.

    CONSTRAINT — a key must never change its partition value
    (ADVICE r6): the rewrite only touches partitions the batch lands
    in, so an update that moves key k from partition p1 to p2 inserts
    the new row in p2 but cannot see (or remove) the stale row in p1
    — a duplicate key across the lake. This is the standard
    hive-partitioned-MERGE contract (partition by an immutable key
    attribute: hash bucket, creation date, tenant). Detecting a move
    would require probing every NON-hit partition for the batch's
    keys — a full-table key scan, exactly the cost this operator
    exists to avoid; deployments that need moves re-key the lake or
    run a periodic full `exact_dedup` audit.
    """
    import pathlib

    from pyspark.sql import functions as F

    _recover_swaps(path, partition_col)

    # LWW-dedup the WHOLE batch once (one shuffle on key), persist it,
    # and read every per-partition count from a single pre-loop
    # aggregate — the old shape re-deduped and re-counted inside the
    # loop (4+ jobs per partition; this is 1 metadata job + 2 jobs per
    # partition: the hit-count probe and the rewrite itself).
    batch_all = _lww_dedup(updates, key_col, version_col).persist()
    try:
        batch_counts = {
            r[0]: r[1]
            for r in batch_all.groupBy(partition_col).count().collect()
        }
        hit_parts = sorted(batch_counts)
        part_dirs = {
            pv: _partition_dir(path, partition_col, pv) for pv in hit_parts
        }
        existing = [
            pv for pv in hit_parts if pathlib.Path(part_dirs[pv]).exists()
        ]
        # ONE column-pruned discovery scan over the hit partitions
        # yields every per-partition update count (r14, the purge_keys
        # pattern): the old shape ran a count job per partition inside
        # the loop. Joining on (partition, key) is the per-partition
        # key match exactly; basePath keeps the partition column.
        hit_counts: dict = {}
        if existing:
            tbl = spark.read.option("basePath", path).parquet(
                *[part_dirs[pv] for pv in existing]
            )
            hit_counts = {
                r[0]: r[1]
                for r in (
                    tbl.select(partition_col, key_col)
                    .join(
                        F.broadcast(batch_all.select(partition_col, key_col)),
                        [partition_col, key_col],
                        "left_semi",
                    )
                    .groupBy(partition_col)
                    .count()
                    .collect()
                )
            }
        rows_updated = sum(hit_counts.values())
        rows_inserted = sum(batch_counts.values()) - rows_updated
        existing_set = set(existing)

        def _rewrite(pv) -> None:
            part_dir = part_dirs[pv]
            batch = batch_all.filter(
                F.col(partition_col) == pv
            ).drop(partition_col)
            tmp = f"{path}/.merge_tmp_{partition_col}={pv}"
            if pv in existing_set:
                part = spark.read.parquet(part_dir)
                out = part.join(
                    F.broadcast(batch.select(key_col)), key_col, "left_anti"
                ).unionByName(batch.select(*part.columns))
                # output sized from the live partition's bytes (r14):
                # the union's plan partitioning (scan files + the
                # batch's shuffle partitions — 33 under foreachBatch,
                # where AQE is off) would otherwise dictate the file
                # count and every later reader pays the opens.
                out.coalesce(
                    _rewrite_files(_dir_parquet_bytes(part_dir))
                ).write.mode("overwrite").parquet(tmp)
                tree_swap_publish(
                    part_dir, tmp, f"{path}/.merge_trash_{partition_col}={pv}"
                )
            else:
                batch.coalesce(
                    _rewrite_files(0, batch_counts[pv])
                ).write.mode("overwrite").parquet(tmp)
                pathlib.Path(tmp).rename(part_dir)

        _overlap_partition_jobs(_rewrite, hit_parts)
    finally:
        batch_all.unpersist()
    return {
        "partitions_written": len(hit_parts),
        "rows_updated": rows_updated,
        "rows_inserted": rows_inserted,
    }


def _lww_dedup(updates: "DataFrame", key_col: str,
               version_col: str | None) -> "DataFrame":
    """Last-writer-wins dedup of a CDC batch: one shuffle on the key,
    winner = max (version, values) struct. Without ``version_col`` a
    physical row sequence breaks ties (tracks input order ONLY for a
    never-repartitioned batch — pass the LSN column for real CDC)."""
    from pyspark.sql import functions as F

    seq = F.col(version_col) if version_col else F.monotonically_increasing_id()
    value_cols = [c for c in updates.columns if c != key_col]
    return (
        updates.withColumn("_seq", seq)
        .groupBy(key_col)
        .agg(F.max(F.struct("_seq", *value_cols)).alias("_r"))
        .select(key_col, "_r.*")
        .drop("_seq")
    )


def merge_changelog(spark: SparkSession, path: str, updates: "DataFrame",
                    key_col: str, partition_col: str,
                    version_col: str | None = None) -> "DataFrame":
    """Change-data-feed for ``merge_upsert``: the per-key change rows
    the merge implies — ``change = 'update'`` where the (LWW-deduped)
    batch key already exists in its partition, ``'insert'`` otherwise
    — carrying the post-image value columns. Run before the merge as
    a dry-run audit, or alongside it as the downstream changelog (the
    Delta/Iceberg CDF contract on plain parquet).

    Read-only and partition-pruned: the only lake access is a key
    scan of the HIT partitions (``partition_col IN (batch values)``
    reaches the directory listing), so cost scales with partitions
    receiving writes, exactly like the merge itself. The same
    key-cannot-change-partition constraint applies (a moved key
    reports 'insert' in its new partition; the stale row is the
    documented merge caveat)."""
    from pyspark.sql import functions as F

    batch_all = _lww_dedup(updates, key_col, version_col).persist()
    try:
        hit_parts = [
            r[0] for r in batch_all.select(partition_col).distinct().collect()
        ]
        import pathlib

        existing_dirs = [
            pv for pv in hit_parts
            if pathlib.Path(_partition_dir(path, partition_col, pv)).exists()
        ]
        if existing_dirs:
            existing = (
                spark.read.option("basePath", path)
                .parquet(*[
                    _partition_dir(path, partition_col, pv)
                    for pv in existing_dirs
                ])
                .select(key_col, partition_col, F.lit(1).alias("_hit"))
            )
            out = batch_all.join(
                existing, [key_col, partition_col], "left"
            ).withColumn(
                "change",
                F.when(F.col("_hit").isNotNull(), F.lit("update")).otherwise(
                    F.lit("insert")
                ),
            ).drop("_hit")
        else:
            out = batch_all.withColumn("change", F.lit("insert"))
        return out.localCheckpoint(eager=True)
    finally:
        batch_all.unpersist()


def purge_predicate(spark: SparkSession, path: str, predicate: str,
                    partition_col: str) -> dict:
    """Predicate-targeted delete over a hive-partitioned parquet lake
    — ``purge_keys``' general form and the RETENTION/TTL pass
    (``purge_predicate(lake, "ts < '2023-01-01'", "dt")`` enforces a
    data-retention policy without rewriting the retained petabytes).

    Same contract and swap protocol as ``purge_keys``: one
    COLUMN-pruned discovery scan (only ``partition_col`` and the
    predicate's columns are read, with row-group min/max skipping —
    a time predicate on a time-clustered layout prunes almost
    everything) finds which partitions hold matching rows; ONLY those
    directories rewrite with the negated predicate; every other
    partition keeps its exact bytes. Idempotent; crash-recoverable
    via ``_recover_swaps``. ``predicate`` is a SQL boolean expression
    selecting the rows to DELETE."""
    import pathlib

    from pyspark.sql import functions as F

    _recover_swaps(path, partition_col)

    table = spark.read.parquet(path)
    hits = {
        r[0]: r[1]
        for r in (
            table.filter(F.expr(predicate))
            .groupBy(partition_col)
            .count()
            .collect()
        )
    }
    hit_parts = sorted(hits)
    part_dirs = {pv: _partition_dir(path, partition_col, pv) for pv in hit_parts}
    for pv in hit_parts:
        part_dir = part_dirs[pv]
        # basePath keeps partition_col visible to the rewrite scan, so
        # a predicate referencing the partition column itself — the
        # TTL shape generalizes to "dt < cutoff" (ADVICE r7) — resolves
        # instead of raising; the column is dropped again before the
        # write because hive layout encodes it in the directory name,
        # and a data column shadowing the partition schema is a
        # duplicate-column error on every future read.
        kept = (
            spark.read.option("basePath", path)
            .parquet(part_dir)
            .filter(~F.expr(predicate))
            .drop(partition_col)
        )
        tmp = f"{path}/.purge_tmp_{partition_col}={pv}"
        kept.write.mode("overwrite").parquet(tmp)
        tree_swap_publish(part_dir, tmp, f"{path}/.purge_trash_{partition_col}={pv}")
    return {
        "partitions_total": len(
            [p for p in pathlib.Path(path).glob(f"{partition_col}=*")]
        ),
        "partitions_rewritten": len(hit_parts),
        "rows_deleted": sum(hits.values()),
    }


def read_small_parquet_rows(spark: SparkSession, path: str) -> list:
    """Driver-side read of a SMALL parquet relation (index metadata:
    centroid codebooks, watermark sidecars) on local filesystems —
    pyarrow reads it in ~ms where a Spark job pays ~0.2-0.3 s of
    scheduling overhead per call (r14, the read_meta_sidecar fast
    path generalized). Non-local paths keep the Spark read. A missing
    or corrupt path raises loudly on both branches (these are
    REQUIRED index artifacts, unlike the sidecars' absent-is-empty
    contract). Returns a list of dict-like rows (pyarrow dicts or
    Spark Rows — both index by column name)."""
    if "://" not in path:
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pylist()
    return spark.read.parquet(path).collect()


def read_meta_sidecar(spark: SparkSession, path: str,
                      name: str = "_meta") -> list:
    """Read an index's one-row ``_meta`` parquet sidecar (the
    exact-substring / IVF index contract). Returns ``[]`` ONLY for the
    documented pre-meta case — the sidecar directory does not exist;
    any OTHER read error (corrupt files, permission failures)
    re-raises, because a swallowed error would silently disable the
    validation the sidecar powers. ONE definition on purpose: the
    missing-path error strings differ across Spark versions, and two
    drifting copies of this classification would mean one index family
    goes loud while the other goes silent (r9 review). ``name`` points
    the same classifier at sibling sidecars (the r10 append journal)
    so their missing-vs-corrupt handling cannot drift either."""
    import os

    sidecar = f"{path}/{name}"
    if "://" not in sidecar:
        # Local-filesystem fast path (r14): the sidecar is a one-row
        # parquet read once or more per index operation, and a full
        # Spark read paid ~0.2-0.3 s of job overhead per call (the
        # incremental-substring lifecycle reads three). pyarrow reads
        # it driver-side in ms with the SAME missing-vs-corrupt
        # classification: absent dir -> [], anything else re-raises
        # (pyarrow's dataset discovery skips _SUCCESS/.crc markers).
        if not os.path.isdir(sidecar):
            return []
        import pyarrow.parquet as pq

        return pq.read_table(sidecar).to_pylist()
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(sidecar).collect()
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        return []


def tree_swap_recover(live: str, tmp: str, trash: str) -> str | None:
    """Self-heal a crashed two-rename tree swap (``tree_swap_publish``):
    live present -> the swap completed or never started, drop
    leftovers; live absent with tmp present -> crash landed between
    the two renames, roll FORWARD; live absent with only trash -> roll
    BACK. Returns the action taken (None if nothing to heal)."""
    import os
    import pathlib
    import shutil

    live_p = pathlib.Path(live)
    tmp_p = pathlib.Path(tmp)
    trash_p = pathlib.Path(trash)
    if live_p.exists():
        action = None
        if trash_p.exists():
            shutil.rmtree(trash)
            action = "dropped_trash"
        if tmp_p.exists():
            shutil.rmtree(tmp)  # crash mid-write: live untouched
            action = f"{action}+dropped_tmp" if action else "dropped_tmp"
        return action
    if tmp_p.exists():
        os.rename(tmp, live)  # roll forward: rewrite was complete
        if trash_p.exists():
            shutil.rmtree(trash)
        return "rolled_forward"
    if trash_p.exists():
        os.rename(trash, live)  # roll back: rewrite never went live
        return "rolled_back"
    return None


def tree_swap_publish(live: str, tmp: str, trash: str) -> None:
    """Publish a fully-written ``tmp`` tree over ``live`` with the
    narrowest non-atomic span plain-filesystem parquet allows:
    rename(live -> trash), rename(tmp -> live), delete trash. The
    window is two directory renames (metadata only), and the original
    bytes survive in ``trash`` until the new tree is live, so every
    crash point is recoverable (``tree_swap_recover`` for index trees,
    ``_recover_swaps`` for lake partitions)."""
    import os
    import shutil

    os.rename(live, trash)
    os.rename(tmp, live)
    shutil.rmtree(trash)


def sidecar_exists(spark: SparkSession, path: str, name: str) -> bool:
    """Fast existence probe for an index sidecar directory via the
    Hadoop FileSystem API (~ms, works on any Spark-supported FS) —
    the hot-path guards (probe-side pending-append checks, recover
    early-outs) run once per query and were paying a full Spark read
    + AnalysisException round trip (~0.2-0.3 s each) just to learn
    "not there". Existence only: when the sidecar EXISTS the caller
    still reads it through ``read_meta_sidecar`` so the
    missing-vs-corrupt classification stays in one place."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{name}")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


# --- persisted-index protocol ------------------------------------------------

_APPEND_JOURNAL = "_append_journal"
_SWAP_PREFIXES = (".compact_tmp_", ".compact_trash_")


@dataclass(frozen=True)
class PersistedIndex:
    """One persisted-index family as the shared crash protocol sees it:
    the IVF index (``vectors`` tree, ``operators/similarity``) and the
    window-hash index (``grams`` tree, ``operators/dedup``). Both grow
    by daily append and shrink by compaction, with one protocol:

    - Layout: ``{path}/{tree}`` holds the data; ``{path}/_meta`` is a
      one-row sidecar whose ``max_id`` is the greatest indexed ingest
      id (plus family columns such as ``k``); ``{path}/_append_journal``
      exists only while an append is in flight or died.
    - Append (``index_append``): journal, then ``_meta``, then data,
      then clear the journal. ``_meta`` advances before the data, so a
      crash fails closed: the retry trips the family's fresh-id check
      instead of double-indexing. The journal makes the window between
      the two detectable: every probe raises while it exists
      (``require_no_pending_append``).
    - Append recovery (``index_append_recover``) reads the crash point
      off the journal (``old_max``, the batch row count, ``batch_max``
      and ``_meta``'s family columns). ``_meta`` still at ``old_max``:
      nothing was indexed, drop the journal (``rolled_back``).
      Otherwise the data rows ``in_batch(old_max)`` decide: all of the
      batch present -> ``completed``, re-writing ``_meta`` at
      ``batch_max`` if it was lost or corrupted mid-overwrite; none ->
      ``rolled_back``; some (a partial multi-file append) -> the tree
      is rewritten without them (``rolled_back_partial``). Both
      roll-backs restore ``_meta`` to ``old_max``. A pre-meta index
      (``old_max`` NULL) whose first ``_meta`` write was corrupted rolls
      back; with an advanced ``_meta`` no watermark separates base from
      batch rows, so recovery raises rather than guess.
    - Compaction (``index_compact``) and the partial roll-back publish
      a rewritten tree through ``tree_swap_publish`` under
      ``.compact_tmp_<tree>`` / ``.compact_trash_<tree>``;
      ``index_compact_recover`` heals a crash inside that swap.
    - Appends and compactions start with ``heal_index``: the swap
      first (with the tree renamed away, append mode would recreate it
      holding only the batch, and the next heal would drop the trash
      holding the base), then the append.

    Every outcome converges to exactly the pre- or post-append index.
    Single writer: no lock guards a probe racing a compaction's two
    renames; such a probe fails loudly on the vanished tree and
    retries. The family supplies data only, in the fields below."""

    tree: str  # data subtree under the index root
    partition_by: tuple  # hive partition columns of the data tree
    journal_ddl: str  # journal schema, in on-disk column order
    meta_ddl: str  # _meta schema, max_id first
    count_col: str  # journal column holding the batch's row count
    in_batch: Callable[[int], Column]  # old_max -> marks the batch's rows
    rebuild: str  # the full-rebuild function the pre-meta error names
    pending_error: str  # probe-guard message; {path} is filled in


def _ddl_names(ddl: str) -> list[str]:
    return [c.split()[0] for c in ddl.split(",")]


def _write_row(spark: SparkSession, dest: str, ddl: str, row: dict) -> None:
    """Overwrite ``dest`` with the one-row sidecar ``row`` (keys beyond
    ``ddl``'s columns are ignored)."""
    from torua_spark.sources.local import local_df

    local_df(spark, [tuple(row[c] for c in _ddl_names(ddl))], ddl).coalesce(
        1
    ).write.mode("overwrite").parquet(dest)


def _write_tree(df: DataFrame, dest: str, index: PersistedIndex,
                mode: str = "overwrite") -> None:
    df.write.mode(mode).partitionBy(*index.partition_by).parquet(dest)


def _swap_dirs(path: str, tree: str) -> tuple[str, str, str]:
    """(live, tmp, trash) of an index data tree's two-rename swap."""
    return (f"{path}/{tree}", *(f"{path}/{p}{tree}" for p in _SWAP_PREFIXES))


def _publish_tree(path: str, index: PersistedIndex, df: DataFrame) -> None:
    live, tmp, trash = _swap_dirs(path, index.tree)
    _write_tree(df, tmp, index)
    tree_swap_publish(live, tmp, trash)


def require_no_pending_append(spark: SparkSession, path: str,
                              index: PersistedIndex) -> None:
    """Probe-side guard: raise while an append is unfinished instead
    of serving an index that omits the half-committed batch. Existence
    probe only; the journal's content is for recovery."""
    if sidecar_exists(spark, path, _APPEND_JOURNAL):
        raise ValueError(index.pending_error.format(path=path))


def index_append(spark: SparkSession, path: str, index: PersistedIndex,
                 rows: DataFrame, old_max, n_new: int, meta: dict) -> None:
    """Append ``rows`` (``n_new`` of them, every one ``in_batch`` past
    ``old_max``) to the data tree and advance ``_meta`` to ``meta``
    under the journaled protocol (``PersistedIndex``)."""
    import shutil

    journal = f"{path}/{_APPEND_JOURNAL}"
    _write_row(spark, journal, index.journal_ddl, {
        **meta, "old_max": old_max, index.count_col: n_new,
        "batch_max": meta["max_id"],
    })
    _write_row(spark, f"{path}/_meta", index.meta_ddl, meta)
    _write_tree(rows, f"{path}/{index.tree}", index, "append")
    shutil.rmtree(journal)


def index_append_recover(spark: SparkSession, path: str,
                         index: PersistedIndex) -> str | None:
    """Heal a crashed ``index_append`` from its journal (``PersistedIndex``
    lists the outcomes). Returns the action taken, None when no
    journal exists."""
    import shutil

    if not sidecar_exists(spark, path, _APPEND_JOURNAL):
        return None
    rows = read_meta_sidecar(spark, path, _APPEND_JOURNAL)
    if not rows:
        return None
    j = rows[0]
    old_max = j["old_max"]
    journal = f"{path}/{_APPEND_JOURNAL}"

    def restore_meta(max_id) -> None:
        row = {c: j[c] for c in _ddl_names(index.meta_ddl)[1:]}
        _write_row(spark, f"{path}/_meta", index.meta_ddl,
                   {**row, "max_id": max_id})

    try:
        # [] when the delete-then-write overwrite lost it
        meta = read_meta_sidecar(spark, path)
    except Exception:
        # corrupt: the crash landed inside the _meta overwrite, and the
        # journal holds the watermarks to restore it from
        meta = None
    if meta is not None and (meta[0]["max_id"] if meta else None) == old_max:
        shutil.rmtree(journal)  # crash before the _meta advance
        return "rolled_back"
    if old_max is None:
        if meta is None:
            # the first-ever _meta write crashed mid-way; data comes
            # after _meta, so nothing was appended
            shutil.rmtree(f"{path}/_meta", ignore_errors=True)
            shutil.rmtree(journal)
            return "rolled_back"
        raise ValueError(
            f"cannot heal an in-flight append on the pre-meta index at "
            f"{path}: no max-id watermark distinguishes base rows from "
            f"the half-committed batch; rebuild via {index.rebuild}"
        )
    # a previous recovery's own partial roll-back may have crashed
    # mid-swap; reading the tree first would fail on it forever
    index_compact_recover(path, index)
    data = spark.read.parquet(f"{path}/{index.tree}")
    in_batch = index.in_batch(old_max)
    n = data.filter(in_batch).count()
    if n == j[index.count_col]:
        if not meta:
            restore_meta(j["batch_max"])
        shutil.rmtree(journal)  # append landed; only the clear was lost
        return "completed"
    action = "rolled_back"
    if n > 0:
        _publish_tree(path, index, data.filter(~in_batch))
        action = "rolled_back_partial"
    restore_meta(old_max)
    shutil.rmtree(journal)
    return action


def index_compact_recover(path: str, index: PersistedIndex) -> str | None:
    """Heal a crashed swap of the index's data tree
    (``tree_swap_recover``)."""
    return tree_swap_recover(*_swap_dirs(path, index.tree))


def heal_index(spark: SparkSession, path: str, index: PersistedIndex) -> None:
    """Heal a crashed swap, then a crashed append (``PersistedIndex``)."""
    index_compact_recover(path, index)
    index_append_recover(spark, path, index)


def index_compact(spark: SparkSession, path: str, index: PersistedIndex,
                  rewrite: Callable[[DataFrame, int], DataFrame]) -> dict:
    """Small-file compaction of the index's data tree: heal, rewrite
    the whole tree as ``rewrite(tree, tree_bytes)`` into tmp, publish
    through the two-rename swap. Content is preserved exactly."""
    import pathlib

    heal_index(spark, path, index)
    live = f"{path}/{index.tree}"
    files = list(pathlib.Path(live).rglob("*.parquet"))
    n_bytes = sum(f.stat().st_size for f in files)
    _publish_tree(path, index, rewrite(spark.read.parquet(live), n_bytes))
    return {
        "files_before": len(files),
        "files_after": len(list(pathlib.Path(live).rglob("*.parquet"))),
    }


def clear_index_leftovers(path: str) -> list[str]:
    """Drop every stale crash artifact under an index root before a
    full rebuild publishes: a leftover append journal, plus any
    half-swapped compaction trees. Without this, a rebuild-in-place
    after a crashed append yields an index whose probes still raise on
    the OLD journal — and running the recover then compares the NEW
    index against the stale journal's old_max watermark, which can
    classify it 'partial' and silently truncate the freshly rebuilt
    data. Called by both index families' ``*_index_write``. Returns
    the removed entries (names relative to ``path``)."""
    import pathlib
    import shutil

    root = pathlib.Path(path)
    removed = []
    if not root.is_dir():
        return removed
    for entry in root.iterdir():
        if entry.name == _APPEND_JOURNAL or entry.name.startswith(_SWAP_PREFIXES):
            shutil.rmtree(entry, ignore_errors=True)
            removed.append(entry.name)
    return removed


def memo_session_tree(memo: dict, spark: SparkSession, sf_dir: str,
                      prefix: str, build):
    """The ``memo`` entry for (this application, ``sf_dir``), built on
    first use: ``build(base)`` writes under a fresh temp root ``base``
    and returns a path directly inside it, or a ``(path, companion)``
    tuple. The root lives until the process exits or until a call sees
    that the application restarted, whichever comes first: entries of
    another application are dropped with their trees, so a long-lived
    process restarting its SparkContext does not accumulate one tree
    per old application."""
    import atexit
    import os
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    for k in [k for k in memo if k[0] != app]:
        p = memo.pop(k)
        if isinstance(p, tuple):
            p = p[0]
        shutil.rmtree(os.path.dirname(p), ignore_errors=True)
    key = (app, sf_dir)
    if key not in memo:
        base = tempfile.mkdtemp(prefix=prefix)
        # eviction may remove the tree first, hence ignore_errors
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        memo[key] = build(base)
    return memo[key]
