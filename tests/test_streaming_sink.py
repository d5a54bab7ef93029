"""foreachBatch exactly-once sink pattern: stream -> idempotent parquet
write per epoch, verified against the batch read."""

import pytest
from pyspark.sql import functions as F

from torua_spark.sources.catalog import load_table
from torua_spark.streaming.windows import documents_stream, events_stream


def test_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "sink")

    def write_epoch(df, epoch_id):
        # Idempotent per-epoch write: overwrite into an epoch-keyed dir
        # (re-delivery of an epoch rewrites the same path, not appends).
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    counts = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.outputMode("complete")
        .foreachBatch(write_epoch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sunk = {r["event_type"]: r["n"] for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    batch = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sunk == batch


def test_checkpoint_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Crash-recovery contract: a restarted query with the same
    checkpointLocation must NOT reprocess data it already committed —
    the checkpoint (source offsets + sink commit log) is what makes
    file-sink streaming exactly-once. Run to completion, stop, start
    an identical query on the same checkpoint: zero new files, zero
    duplicate rows."""
    import glob

    from pyspark.sql import functions as F

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            events_stream(spark, sf_dir)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_files_first = len(glob.glob(f"{out}/*.parquet"))
    n_rows_first = spark.read.parquet(out).count()

    run_once()  # restart from the same checkpoint — a no-op replay
    assert len(glob.glob(f"{out}/*.parquet")) == n_files_first
    n_expected = load_table(spark, sf_dir, "events").count()
    assert n_rows_first == n_expected
    assert spark.read.parquet(out).count() == n_expected  # no duplicates
    assert (
        spark.read.parquet(out).select(F.countDistinct("event_id")).collect()[0][0]
        == n_expected
    )


def test_drain_to_files_matches_memory_sink(spark, sf_dir, tmp_path):
    """The production parquet-sink drain (drain_to_files) emits
    exactly the rows the memory-sink drain emits under the same
    append mode — and that set is the finalized subset of the
    complete-mode result (trailing windows stay open on a finite
    source; see drain_to_files docstring)."""
    from torua_spark.streaming.windows import drain_to_batch, drain_to_files

    def agg():
        return (
            events_stream(spark, sf_dir)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                    "hour_start"
                ),
                "event_type",
                "n_events",
            )
        )

    filed = drain_to_files(
        agg(), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    )
    memd = drain_to_batch(agg(), mode="append")
    complete = drain_to_batch(agg(), mode="complete")

    key = lambda r: (r["hour_start"], r["event_type"], r["n_events"])
    got = sorted(key(r) for r in filed.collect())
    want = sorted(key(r) for r in memd.collect())
    assert got == want and len(got) > 0
    full = {key(r) for r in complete.collect()}
    assert set(got) <= full


def test_streaming_cdc_crash_restart_converges(spark, tmp_path, monkeypatch):
    """End-to-end durability of the streaming-CDC-to-lake path
    (round 7): a crash INSIDE a micro-batch's partition swap kills
    the streaming query; a fresh query over the SAME checkpoint
    replays the uncommitted batch, _recover_swaps heals the
    half-swapped partition first, and the lake converges to exactly
    the LWW result — foreachBatch idempotence + the two-rename swap
    protocol composing."""
    import os
    import pathlib
    import time

    import pytest

    from torua_spark.sources import io

    waves = tmp_path / "waves"
    waves.mkdir()
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    v1 = spark.createDataFrame(
        [(k, k % 2, "old") for k in range(10)], "key long, p long, val string"
    )
    v2 = spark.createDataFrame(
        [(k, k % 2, "new") for k in range(5, 15)], "key long, p long, val string"
    )
    now = time.time()
    for i, df in enumerate((v1, v2)):
        tmp = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(tmp)
        dst = waves / f"wave{i}.parquet"
        next(pathlib.Path(tmp).glob("*.parquet")).rename(dst)
        os.utime(dst, (now - 120 + i * 60,) * 2)

    def run_stream():
        def _merge(batch_df, batch_id):
            if not batch_df.isEmpty():
                io.merge_upsert(spark, lake, batch_df, "key", "p")

        q = (
            spark.readStream.format("parquet")
            .schema(v1.schema)
            .option("maxFilesPerTrigger", 1)
            .load(str(waves))
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # crash the FIRST partition swap (wave 2's update path — wave 1
    # is all inserts, which rename without swapping)
    real_swap = io.tree_swap_publish

    def crash_between(live, tmp, trash):
        os.rename(live, trash)
        raise RuntimeError("injected crash between renames")

    monkeypatch.setattr(io, "tree_swap_publish", crash_between)
    with pytest.raises(Exception, match="injected"):
        run_stream()
    # wave 1 is committed in the checkpoint; wave 2's batch is not,
    # and one partition sits mid-swap (live dir renamed to trash)
    assert any(
        d.name.startswith(".merge_trash_") for d in pathlib.Path(lake).iterdir()
    )

    monkeypatch.setattr(io, "tree_swap_publish", real_swap)
    run_stream()  # same checkpoint: replays ONLY the failed batch

    got = {r.key: r.val for r in spark.read.parquet(lake).collect()}
    assert got == {
        **{k: "old" for k in range(5)},
        **{k: "new" for k in range(5, 15)},
    }
    assert not any(
        d.name.startswith(".") for d in pathlib.Path(lake).iterdir() if d.is_dir()
    )


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("shape", ["memory", "batches", "files", "batches_raise"])
def test_drain_leaves_no_session_state(spark, sf_dir, tmp_path, shape):
    """Every drain shape stops its stream, restores the session's
    shuffle width and leaves no temp view behind, also when the
    per-batch function raises."""
    from torua_spark.streaming import windows

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)

    def boom(batch_df):
        raise RuntimeError("injected batch failure")

    if shape == "memory":
        counts = events_stream(spark, sf_dir).groupBy("event_type").count()
        assert windows.drain_to_batch(counts).count() > 0
    elif shape == "files":
        rows = events_stream(spark, sf_dir).select("event_id", "event_type")
        out = windows.drain_to_files(rows, str(tmp_path / "sink"), str(tmp_path / "ckpt"))
        assert out.count() > 0
    elif shape == "batches":
        out = windows.drain_batches(
            documents_stream(spark, sf_dir), lambda b: b.select("doc_id"), "doc_id long"
        )
        assert out.count() > 0
    else:
        with pytest.raises(Exception, match="injected batch failure"):
            windows.drain_batches(documents_stream(spark, sf_dir), boom, "doc_id long")

    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert _temp_views(spark) == views


def test_drain_batches_without_output_returns_empty_schema(spark, sf_dir):
    """A stream whose micro-batches are all empty never runs the
    per-batch function, and the drain returns zero rows of exactly the
    given schema."""
    from torua_spark.streaming.windows import drain_batches

    calls = []

    def record(batch_df):
        calls.append(batch_df)
        return batch_df

    out = drain_batches(
        documents_stream(spark, sf_dir).filter(F.lit(False)),
        record,
        "doc_id long, score double",
    )
    assert calls == []
    assert out.schema.simpleString() == "struct<doc_id:bigint,score:double>"
    assert out.count() == 0
