"""Declared lake-maintenance queries + oracles (VERDICT r5 #1).

The 100 TB storage life-cycle ops — small-file compaction
(``io.compact_files``), targeted key purge (``io.purge_keys``, the
lake-scale form of the reference's A3/A6 DELETE, store.go idempotent
delete), and partition-targeted LWW merge (``io.merge_upsert``, the
lake-scale A2 PUT) — were pytest-only; these entries put each one in
the driver's hash-checked window.

Shape shared by all three: build a REAL hive-partitioned parquet lake
in a fresh temp dir from a catalog table, run the maintenance op,
reduce the post-op lake to an exact-integer relation (per-partition
row count, XOR-folded polynomial row checksum over the non-temporal
columns, round-half-up cents sum — every term bit-reproducible in
DuckDB), and
append a report row carrying the op's own counters (files touched /
partitions rewritten / rows updated). The DuckDB oracle recomputes the
SAME relation from the source table by pure SQL — a hash match proves
the op preserved exactly the rows it should and its report told the
truth. Results return as driver-local literals (``local_df``) so the
temp lake can be deleted before the callable returns: the relation is
partition-count-sized, never data-sized.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from torua_spark.sources.catalog import load_table
from torua_spark.sources.io import compact_files, memo_session_tree, merge_upsert, purge_keys
from torua_spark.sources.local import local_df
from torua_spark.streaming.windows import _drain

# Deterministic knobs shared by the Spark side and the SQL oracle.
_COMPACT_IN_FILES = 64   # the simulated small-file problem
_COMPACT_OUT_FILES = 4   # pinned output count (compact_files n_files)
_PURGE_MOD = 97          # purge keys: o_orderkey % 97 == 0 in status F
_MERGE_MOD = 101         # update keys: o_orderkey % 101 == 0
_MERGE_KEY_OFFSET = 10_000_000  # insert keys: o_orderkey + offset
_MERGE_PRICE_BUMP = 1000.0
_MERGE_INSERT_PRICE = 42.0


def _cents(col) -> Column:
    """Round-half-up integer cents — exact and identical across
    engines (IEEE754 double ops are deterministic; floor(x*100+0.5)
    is the same bit pattern in Spark and DuckDB)."""
    return F.sum(F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("long"))


_CENTS_SQL = "CAST(sum(CAST(floor({c} * 100.0 + 0.5) AS BIGINT)) AS BIGINT)"


# Rolling polynomial row hash, XOR-folded across rows. Pure integer
# arithmetic (multiply/add/mod — whole-stage-codegen in Spark, plain
# expressions in DuckDB) instead of the per-character FNV aggregate
# lambda, which Catalyst interprets row-at-a-time: the readback
# checksum of the merge proof dropped 6.0 s -> sub-second at sf0.1
# when this replaced concat_ws+fnv. Exactness: h stays < 2^32, each
# step's intermediate < 2^32 * 1000003 + v < 2^53 — exact BIGINT in
# both engines. Columns must be non-negative (Spark pmod == DuckDB %
# only then); string columns enter as ascii(first_char)*256 + length,
# enough to pin enum-ish columns (status/priority/type). XOR-fold
# never overflows and is order-insensitive (ADVICE r5); duplicate
# full rows cancel pairwise — acceptable for these proofs because
# every relation checksummed here carries a unique key column.
_POLY_P = 1_000_003
_POLY_M = 1 << 32


def _row_poly(*cols: tuple[str, str]) -> Column:
    """cols: (name, 'num'|'str') pairs."""
    h = F.lit(17).cast("long")
    for name, kind in cols:
        v = (
            F.col(name).cast("long")
            if kind == "num"
            else (F.ascii(F.col(name)) * F.lit(256) + F.length(F.col(name))).cast("long")
        )
        h = F.pmod(h * F.lit(_POLY_P) + v, F.lit(_POLY_M))
    return F.bit_xor(h)


def _row_poly_sql(*cols: tuple[str, str]) -> str:
    h = "17"
    for name, kind in cols:
        v = (
            f"CAST({name} AS BIGINT)"
            if kind == "num"
            else f"CAST(ascii({name}) * 256 + length({name}) AS BIGINT)"
        )
        h = f"(({h}) * {_POLY_P} + {v}) % {_POLY_M}"
    return f"CAST(bit_xor({h}) AS BIGINT)"


# ------------------------------------------------------------- compaction

def q_lake_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction proof: land events as 64 tiny files (the
    one-file-per-trigger streaming-sink pathology), compact to 4
    user_id-clustered files, and prove (a) content identity per
    event_type (count + row checksum + value cents vs the source
    table) and (b) the report's file counts match the pinned layout.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="torua_lake_compact_")
    try:
        src, dst = f"{base}/src", f"{base}/dst"
        ev.repartition(_COMPACT_IN_FILES).write.parquet(src)
        report = compact_files(
            spark, src, dst, sort_cols=["user_id"], n_files=_COMPACT_OUT_FILES
        )
        out = spark.read.parquet(dst)
        parts = (
            out.groupBy(F.col("event_type").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _row_poly(
                    ("event_id", "num"), ("user_id", "num"), ("event_type", "str")
                ).alias("row_checksum"),
                _cents(F.col("value")).alias("value_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rows = [
        (r["part"], r["n_rows"], r["row_checksum"], r["value_cents"], None, None)
        for r in parts
    ] + [("_report", None, None, None, report["in_files"], report["out_files"])]
    return local_df(
        spark, rows,
        "part string, n_rows long, row_checksum long, value_cents long, "
        "in_files long, out_files long",
    )


_COMPACT_ORACLE = f"""
    SELECT event_type AS part, count(*)::BIGINT AS n_rows,
           {_row_poly_sql(('event_id', 'num'), ('user_id', 'num'), ('event_type', 'str'))} AS row_checksum,
           {_CENTS_SQL.format(c='value')} AS value_cents,
           CAST(NULL AS BIGINT) AS in_files, CAST(NULL AS BIGINT) AS out_files
    FROM events GROUP BY 1
    UNION ALL
    SELECT '_report', NULL, NULL, NULL, {_COMPACT_IN_FILES}, {_COMPACT_OUT_FILES}
"""


# ------------------------------------------------------------------ purge

def q_lake_purge_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-delete proof: orders landed as a status-partitioned
    lake, a key set drawn from ONE partition purged, and the survivor
    relation + the op's report (partitions rewritten must be exactly
    the partitions holding the keys — the it-didn't-rewrite-the-table
    guarantee) hash-checked against pure SQL over the source."""
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        orders.filter(
            (F.col("o_orderkey") % _PURGE_MOD == 0)
            & (F.col("o_orderstatus") == "F")
        ).select("o_orderkey")
    )
    base = tempfile.mkdtemp(prefix="torua_lake_purge_")
    try:
        lake = f"{base}/orders"
        orders.repartition("o_orderstatus").write.partitionBy("o_orderstatus").parquet(lake)
        report = purge_keys(spark, lake, keys, "o_orderkey", "o_orderstatus")
        out = spark.read.parquet(lake)
        parts = (
            out.groupBy(F.col("o_orderstatus").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _row_poly(
                    ("o_orderkey", "num"), ("o_custkey", "num"),
                    ("o_orderpriority", "str"),
                ).alias("row_checksum"),
                _cents(F.col("o_totalprice")).alias("price_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rows = [
        (r["part"], r["n_rows"], r["row_checksum"], r["price_cents"], None, None, None)
        for r in parts
    ] + [(
        "_report", None, None, None,
        report["partitions_total"], report["partitions_rewritten"],
        report["rows_deleted"],
    )]
    return local_df(
        spark, rows,
        "part string, n_rows long, row_checksum long, price_cents long, "
        "partitions_total long, partitions_rewritten long, rows_deleted long",
    )


_PURGE_ORACLE = f"""
    WITH del AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % {_PURGE_MOD} = 0 AND o_orderstatus = 'F'
    ),
    kept AS (
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
    )
    SELECT o_orderstatus AS part, count(*)::BIGINT AS n_rows,
           {_row_poly_sql(('o_orderkey', 'num'), ('o_custkey', 'num'), ('o_orderpriority', 'str'))} AS row_checksum,
           {_CENTS_SQL.format(c='o_totalprice')} AS price_cents,
           CAST(NULL AS BIGINT) AS partitions_total,
           CAST(NULL AS BIGINT) AS partitions_rewritten,
           CAST(NULL AS BIGINT) AS rows_deleted
    FROM kept GROUP BY 1
    UNION ALL
    SELECT '_report', NULL, NULL, NULL,
           (SELECT count(DISTINCT o_orderstatus) FROM orders),
           (SELECT count(DISTINCT o_orderstatus) FROM orders
            WHERE o_orderkey IN (SELECT o_orderkey FROM del)),
           (SELECT count(*) FROM del)
"""


# ------------------------------------------------------------------ merge

def q_lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW-merge proof: a CDC-shaped batch (price bump on every key
    % 101 == 0, plus brand-new keys at +10M) merged into the status-
    partitioned orders lake; the merged relation and the op's
    updated/inserted split hash-checked against the SQL respelling
    (source minus hit keys, union updates, union inserts)."""
    orders = load_table(spark, sf_dir, "orders")
    hit = orders.filter(F.col("o_orderkey") % _MERGE_MOD == 0)
    upd = hit.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(_MERGE_PRICE_BUMP)
    )
    ins = (
        hit.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(_MERGE_KEY_OFFSET))
        .withColumn("o_totalprice", F.lit(_MERGE_INSERT_PRICE))
        .withColumn("o_orderpriority", F.lit("5-NEW"))
    )
    base = tempfile.mkdtemp(prefix="torua_lake_merge_")
    try:
        lake = f"{base}/orders"
        orders.repartition("o_orderstatus").write.partitionBy("o_orderstatus").parquet(lake)
        report = merge_upsert(
            spark, lake, upd.unionByName(ins), "o_orderkey", "o_orderstatus"
        )
        out = spark.read.parquet(lake)
        parts = (
            out.groupBy(F.col("o_orderstatus").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _row_poly(
                    ("o_orderkey", "num"), ("o_custkey", "num"),
                    ("o_orderpriority", "str"),
                ).alias("row_checksum"),
                _cents(F.col("o_totalprice")).alias("price_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rows = [
        (r["part"], r["n_rows"], r["row_checksum"], r["price_cents"], None, None, None)
        for r in parts
    ] + [(
        "_report", None, None, None,
        report["partitions_written"], report["rows_updated"],
        report["rows_inserted"],
    )]
    return local_df(
        spark, rows,
        "part string, n_rows long, row_checksum long, price_cents long, "
        "partitions_written long, rows_updated long, rows_inserted long",
    )


_MERGE_ORACLE = f"""
    WITH hit AS (
        SELECT * FROM orders WHERE o_orderkey % {_MERGE_MOD} = 0
    ),
    merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM hit)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + {_MERGE_PRICE_BUMP}, o_orderpriority
        FROM hit
        UNION ALL
        SELECT o_orderkey + {_MERGE_KEY_OFFSET}, o_custkey, o_orderstatus,
               {_MERGE_INSERT_PRICE}, '5-NEW'
        FROM hit
    )
    SELECT o_orderstatus AS part, count(*)::BIGINT AS n_rows,
           {_row_poly_sql(('o_orderkey', 'num'), ('o_custkey', 'num'), ('o_orderpriority', 'str'))} AS row_checksum,
           {_CENTS_SQL.format(c='o_totalprice')} AS price_cents,
           CAST(NULL AS BIGINT) AS partitions_written,
           CAST(NULL AS BIGINT) AS rows_updated,
           CAST(NULL AS BIGINT) AS rows_inserted
    FROM merged GROUP BY 1
    UNION ALL
    SELECT '_report', NULL, NULL, NULL,
           (SELECT count(DISTINCT o_orderstatus) FROM hit),
           (SELECT count(*) FROM hit),
           (SELECT count(*) FROM hit)
"""


QUERIES = {
    "lake_compact": q_lake_compact,
    "lake_purge_keys": q_lake_purge_keys,
    "lake_merge_upsert": q_lake_merge_upsert,
}

ORACLE = {
    "lake_compact": _COMPACT_ORACLE,
    "lake_purge_keys": _PURGE_ORACLE,
    "lake_merge_upsert": _MERGE_ORACLE,
}


# streaming_lake_cdc's memoized wave files: see the comment at the
# build site inside the query
_CDC_WAVES_MEMO: dict[tuple, str] = {}


def q_streaming_lake_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC INTO the lake: a file-stream delivers
    two change waves — the full orders snapshot, then the same
    update+insert batch lake_merge_upsert uses — and ``foreachBatch``
    MERGEs each micro-batch into the hive-partitioned lake with the
    same ``merge_upsert`` (two-rename swap, LWW). maxFilesPerTrigger=1
    + staggered mtimes pin wave order, so the final lake equals the
    batch merge exactly — one proof that the streaming ingest path
    and the maintenance path compose. The report row carries batches
    processed and the summed update/insert counters."""
    import os
    import pathlib
    import time
    import uuid

    orders5 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    hit = orders5.filter(F.col("o_orderkey") % _MERGE_MOD == 0)
    upd = hit.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(_MERGE_PRICE_BUMP)
    )
    ins = (
        hit.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(_MERGE_KEY_OFFSET))
        .withColumn("o_totalprice", F.lit(_MERGE_INSERT_PRICE))
        .withColumn("o_orderpriority", F.lit("5-NEW"))
    )
    # the wave FILES are a pure function of the corpus — build them
    # once per (application, corpus) and share read-only across runs
    # (each run gets its own lake + checkpoint, so every run still
    # replays the full two-wave merge from scratch); the CDC feed a
    # deployment consumes is likewise not re-rendered per reader
    def write_waves(wbase):
        stream_dir = f"{wbase}/waves"
        pathlib.Path(stream_dir).mkdir()
        now = time.time()
        for i, wave in enumerate((orders5, upd.unionByName(ins))):
            tmp = f"{wbase}/w{i}"
            wave.coalesce(1).write.parquet(tmp)
            dst = f"{stream_dir}/wave{i}.parquet"
            next(pathlib.Path(tmp).glob("*.parquet")).rename(dst)
            os.utime(dst, (now - 120 + i * 60, now - 120 + i * 60))
        return stream_dir

    stream_dir = memo_session_tree(
        _CDC_WAVES_MEMO, spark, sf_dir, "torua_cdc_waves_", write_waves
    )
    base = tempfile.mkdtemp(prefix="torua_lake_cdc_")
    try:
        lake = f"{base}/orders"

        totals = {"batches": 0, "updated": 0, "inserted": 0}

        def _merge(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            r = merge_upsert(
                spark, lake, batch_df, "o_orderkey", "o_orderstatus"
            )
            totals["batches"] += 1
            totals["updated"] += r["rows_updated"]
            totals["inserted"] += r["rows_inserted"]

        _drain(
            spark.readStream.format("parquet")
            .schema(orders5.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .load(stream_dir)
            .writeStream.foreachBatch(_merge)
            .option(
                "checkpointLocation", f"{base}/ckpt_{uuid.uuid4().hex[:8]}"
            )
        )

        parts = (
            spark.read.parquet(lake)
            .groupBy(F.col("o_orderstatus").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _row_poly(
                    ("o_orderkey", "num"), ("o_custkey", "num"),
                    ("o_orderpriority", "str"),
                ).alias("row_checksum"),
                _cents(F.col("o_totalprice")).alias("price_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rows = [
        (r["part"], r["n_rows"], r["row_checksum"], r["price_cents"],
         None, None, None)
        for r in parts
    ] + [(
        "_report", None, None, None,
        totals["batches"], totals["updated"], totals["inserted"],
    )]
    return local_df(
        spark, rows,
        "part string, n_rows long, row_checksum long, price_cents long, "
        "batches long, rows_updated long, rows_inserted long",
    )


# Final lake state == the batch merge's merged relation (wave 1 is the
# full snapshot, wave 2 the same update+insert batch); the report sums
# per-batch counters: batch 1 inserts everything, batch 2 updates the
# hit keys and inserts the offset keys.
_CDC_ORACLE = f"""
    WITH hit AS (
        SELECT * FROM orders WHERE o_orderkey % {_MERGE_MOD} = 0
    ),
    merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM hit)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + {_MERGE_PRICE_BUMP}, o_orderpriority
        FROM hit
        UNION ALL
        SELECT o_orderkey + {_MERGE_KEY_OFFSET}, o_custkey, o_orderstatus,
               {_MERGE_INSERT_PRICE}, '5-NEW'
        FROM hit
    )
    SELECT o_orderstatus AS part, count(*)::BIGINT AS n_rows,
           {_row_poly_sql(('o_orderkey', 'num'), ('o_custkey', 'num'), ('o_orderpriority', 'str'))} AS row_checksum,
           {_CENTS_SQL.format(c='o_totalprice')} AS price_cents,
           CAST(NULL AS BIGINT) AS batches,
           CAST(NULL AS BIGINT) AS rows_updated,
           CAST(NULL AS BIGINT) AS rows_inserted
    FROM merged GROUP BY 1
    UNION ALL
    SELECT '_report', NULL, NULL, NULL,
           2,
           (SELECT count(*) FROM hit),
           (SELECT count(*) FROM orders) + (SELECT count(*) FROM hit)
"""


QUERIES["streaming_lake_cdc"] = q_streaming_lake_cdc
ORACLE["streaming_lake_cdc"] = _CDC_ORACLE


def q_lake_merge_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF proof: the changelog `merge_changelog` emits for the same
    CDC batch as `lake_merge_upsert` (price bumps on existing keys +
    brand-new keys), reduced to exact integers per (partition, change)
    — row count, key checksum, post-image cents — and hash-checked
    against the pure-SQL respelling (hit keys -> update, offset keys
    -> insert). The op reads ONLY the hit partitions (partition-pruned
    key scan), never rewrites anything."""
    from torua_spark.sources.io import merge_changelog

    orders = load_table(spark, sf_dir, "orders")
    hit = orders.filter(F.col("o_orderkey") % _MERGE_MOD == 0)
    upd = hit.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(_MERGE_PRICE_BUMP)
    )
    ins = (
        hit.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(_MERGE_KEY_OFFSET))
        .withColumn("o_totalprice", F.lit(_MERGE_INSERT_PRICE))
        .withColumn("o_orderpriority", F.lit("5-NEW"))
    )
    base = tempfile.mkdtemp(prefix="torua_lake_cdf_")
    try:
        lake = f"{base}/orders"
        orders.repartition("o_orderstatus").write.partitionBy(
            "o_orderstatus"
        ).parquet(lake)
        log = merge_changelog(
            spark, lake, upd.unionByName(ins), "o_orderkey", "o_orderstatus"
        )
        rows = (
            log.groupBy(
                F.col("o_orderstatus").alias("part"), F.col("change")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                _cents(F.col("o_totalprice")).alias("price_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return local_df(
        spark,
        [tuple(r) for r in rows],
        "part string, change string, n_rows long, key_sum long, price_cents long",
    )


QUERIES["lake_merge_changelog"] = q_lake_merge_changelog

ORACLE["lake_merge_changelog"] = f"""
    WITH hit AS (
        SELECT * FROM orders WHERE o_orderkey % {_MERGE_MOD} = 0
    )
    SELECT o_orderstatus AS part, 'update' AS change,
           count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(floor((o_totalprice + {_MERGE_PRICE_BUMP}) * 100.0
                               + 0.5 + 1e-9) AS BIGINT)) AS BIGINT)
               AS price_cents
    FROM hit GROUP BY 1
    UNION ALL
    SELECT o_orderstatus, 'insert', count(*),
           CAST(sum(o_orderkey + {_MERGE_KEY_OFFSET}) AS BIGINT),
           CAST(count(*) * CAST(floor({_MERGE_INSERT_PRICE} * 100.0
                                      + 0.5 + 1e-9) AS BIGINT) AS BIGINT)
    FROM hit GROUP BY 1
"""


_RETENTION_CUTOFF = "1996-01-01 00:00:00"


def q_lake_retention_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL proof (`io.purge_predicate`): orders landed as a
    YEAR-partitioned lake, everything before the cutoff purged by
    predicate; the surviving relation + the report (partitions
    rewritten must be exactly the years holding pre-cutoff rows)
    hash-checked against pure SQL over the source."""
    from torua_spark.sources.io import purge_predicate

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    pred = f"o_orderdate < TIMESTAMP '{_RETENTION_CUTOFF}'"
    base = tempfile.mkdtemp(prefix="torua_lake_ttl_")
    try:
        lake = f"{base}/orders"
        orders.repartition("o_year").write.partitionBy("o_year").parquet(lake)
        report = purge_predicate(spark, lake, pred, "o_year")
        out = spark.read.parquet(lake)
        parts = (
            out.groupBy(F.col("o_year").cast("long").alias("part"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                _row_poly(
                    ("o_orderkey", "num"), ("o_custkey", "num"),
                    ("o_orderpriority", "str"),
                ).alias("row_checksum"),
                _cents(F.col("o_totalprice")).alias("price_cents"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    rows = [
        (r["part"], r["n_rows"], r["row_checksum"], r["price_cents"],
         None, None, None)
        for r in parts
    ] + [(
        -1, None, None, None,
        report["partitions_total"], report["partitions_rewritten"],
        report["rows_deleted"],
    )]
    return local_df(
        spark, rows,
        "part long, n_rows long, row_checksum long, price_cents long, "
        "partitions_total long, partitions_rewritten long, rows_deleted long",
    )


QUERIES["lake_retention_purge"] = q_lake_retention_purge

ORACLE["lake_retention_purge"] = f"""
    WITH kept AS (
        SELECT *, CAST(year(o_orderdate) AS BIGINT) AS o_year FROM orders
        WHERE NOT (o_orderdate < TIMESTAMP '{_RETENTION_CUTOFF}')
    )
    SELECT o_year AS part, count(*)::BIGINT AS n_rows,
           {_row_poly_sql(('o_orderkey', 'num'), ('o_custkey', 'num'), ('o_orderpriority', 'str'))} AS row_checksum,
           {_CENTS_SQL.format(c='o_totalprice')} AS price_cents,
           CAST(NULL AS BIGINT) AS partitions_total,
           CAST(NULL AS BIGINT) AS partitions_rewritten,
           CAST(NULL AS BIGINT) AS rows_deleted
    FROM kept GROUP BY 1
    UNION ALL
    SELECT -1, NULL, NULL, NULL,
           (SELECT count(DISTINCT year(o_orderdate)) FROM orders),
           (SELECT count(DISTINCT year(o_orderdate)) FROM orders
            WHERE o_orderdate < TIMESTAMP '{_RETENTION_CUTOFF}'),
           (SELECT count(*) FROM orders
            WHERE o_orderdate < TIMESTAMP '{_RETENTION_CUTOFF}')
"""
