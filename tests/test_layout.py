"""Z-order layout + file compaction (sources/layout.py, io.compact_files).

The layout claims are measured, not asserted by vibes: after a
zorder_write the per-FILE min/max footer stats must be tight on BOTH
interleaved dimensions (that's the property that lets a scan skip
files on either predicate), and a 2-D range query must be able to
skip most files from footers alone. Compaction must preserve count
and content checksum exactly while cutting the file count.
"""

import math

from pyspark.sql import functions as F

from tests.oracle import compare
from torua_spark.queries import relational_q
from torua_spark.sources.layout import (
    file_stats,
    pruning_ratio,
    quantize_int,
    zorder_write,
    zvalue,
    zvalue_py,
)


def test_zvalue_matches_python_reference(spark):
    from torua_spark.sources.local import local_df

    rows = [(0, 0), (255, 255), (1, 2), (170, 85), (200, 13)]
    df = local_df(spark, rows, "x long, y long").select(
        "x", "y", zvalue([F.col("x"), F.col("y")], 8).alias("z")
    )
    for r in df.collect():
        assert r.z == zvalue_py([r.x, r.y], 8), (r.x, r.y)


def test_quantize_clamps_and_is_exact(spark):
    from torua_spark.sources.local import local_df

    # values below lo clamp to 0, above hi clamp to 2^bits - 1, and
    # in-range values match exact integer division
    rows = [(-5,), (0,), (99,), (100,), (199,), (200,), (1000,)]
    df = local_df(spark, rows, "x long").select(
        "x", quantize_int("x", 0, 199, 3).alias("q")
    )
    got = {r.x: r.q for r in df.collect()}
    for x in got:
        expect = max(0, min(7, ((x - 0) * 8) // 200))
        assert got[x] == expect, (x, got[x], expect)


def test_zorder_layout_matches_oracle(spark, sf_dir):
    compare(
        relational_q.QUERIES["zorder_layout"](spark, sf_dir),
        relational_q.ORACLE["zorder_layout"],
        sf_dir,
    )


def test_zorder_write_clusters_both_dims(spark, tmp_path):
    """After the rewrite every file covers a small hyper-rectangle:
    mean per-file extent on EACH dimension must be well under the
    global extent (a single-column sort gets this on one dimension
    only), and a 2-D box query must skip most files on footer stats."""
    n = 20_000
    side = 256
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        F.floor(
            (F.hash(F.col("id")).cast("double") / F.lit(2.0**32) + 0.5) * side
        ).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "zorded")
    zorder_write(df, path, [("x", 0, side - 1), ("y", 0, side - 1)],
                 bits=8, n_files=16)

    back = spark.read.parquet(path)
    assert back.count() == n
    # content preserved (checksum over all columns)
    chk = lambda d: d.select(
        F.expr("bit_xor(xxhash64(x, y, payload))").alias("s")
    ).first()["s"]
    assert chk(back) == chk(df)

    stats = file_stats(path, ["x", "y"])
    assert len(stats) == 16
    for col in ("x", "y"):
        extents = [s[f"{col}_max"] - s[f"{col}_min"] for s in stats]
        mean_extent = sum(extents) / len(extents)
        # global extent is ~side; z-order should give ~side/sqrt(files)
        # per file on each dim — allow 2x slack over the ideal
        ideal = side / math.sqrt(len(stats))
        assert mean_extent <= 2.5 * ideal, (col, mean_extent, ideal)

    # a 2-D box covering ~1/16 of each dimension range must be
    # skippable for most files from footers alone
    skip_x = pruning_ratio(stats, "x", 0, side // 16)
    skip_y = pruning_ratio(stats, "y", 0, side // 16)
    assert skip_x >= 0.5, skip_x
    assert skip_y >= 0.5, skip_y
    # and the layout is only a layout: query results are unchanged
    want = df.filter((F.col("x") <= side // 16) & (F.col("y") <= side // 16)).count()
    got = back.filter((F.col("x") <= side // 16) & (F.col("y") <= side // 16)).count()
    assert got == want


def test_compact_files_preserves_content(spark, tmp_path):
    from torua_spark.sources.io import compact_files

    src = str(tmp_path / "fragmented")
    # simulate a streaming sink's file explosion: 64 tiny files
    spark.range(50_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(64).write.parquet(src)

    out = str(tmp_path / "compacted")
    report = compact_files(spark, src, out, target_mb=128, sort_cols=["id"])
    assert report["in_files"] == 64
    assert report["out_files"] < report["in_files"]

    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert b.count() == a.count() == 50_000
    chk = lambda d: d.select(F.expr("bit_xor(xxhash64(id, k))").alias("s")).first()["s"]
    assert chk(a) == chk(b)
    # sorted rewrite keeps id stats tight: each output file's id range
    # must be disjoint-ish (range partitioned), i.e. mean extent well
    # under the global extent
    stats = file_stats(out, ["id"])
    if len(stats) > 1:
        extents = [s["id_max"] - s["id_min"] for s in stats]
        assert sum(extents) / len(extents) < 50_000 / len(stats) * 1.5


def test_purge_keys_rewrites_only_hit_partitions(spark, tmp_path):
    """Right-to-be-forgotten over a hive-partitioned lake: purged keys
    vanish, non-hit partitions keep their exact FILES (byte/mtime
    identical — the petabyte is not rewritten), absent keys are a
    no-op (A3 idempotent delete at lake scale)."""
    import os
    import pathlib

    from torua_spark.sources.io import purge_keys

    path = str(tmp_path / "lake")
    df = spark.range(10_000).select(
        F.concat(F.lit("user"), F.col("id")).alias("key"),
        (F.col("id") % 8).alias("p"),
        (F.col("id") * 3).alias("payload"),
    )
    df.write.partitionBy("p").parquet(path)

    def mtimes():
        return {
            str(f): f.stat().st_mtime_ns
            for f in pathlib.Path(path).rglob("*.parquet")
        }

    before = mtimes()
    # keys living in partitions 1 and 5 only (id % 8)
    report = purge_keys(spark, path, ["user1", "user9", "user13"], "key", "p")
    assert report["partitions_rewritten"] == 2
    assert report["rows_deleted"] == 3

    back = spark.read.parquet(path)
    assert back.count() == 10_000 - 3
    assert back.filter(F.col("key").isin("user1", "user9", "user13")).count() == 0
    # surviving rows in rewritten partitions intact
    assert back.filter("p = 1").count() == 1250 - 2  # user1, user9... user1%8=1, 9%8=1, 13%8=5
    after = mtimes()
    untouched = {f: t for f, t in before.items() if "/p=1/" not in f and "/p=5/" not in f}
    assert untouched.items() <= after.items()  # same files, same mtimes

    # idempotent no-op for absent keys: nothing rewritten at all
    before2 = mtimes()
    report2 = purge_keys(spark, path, ["user1", "no-such-key"], "key", "p")
    assert report2["partitions_rewritten"] == 0
    assert report2["rows_deleted"] == 0
    assert mtimes() == before2


def test_merge_upsert_lww_partition_targeted(spark, tmp_path):
    """A2's LWW PUT at lake scale: updated keys take the new values,
    new keys insert (including into brand-new partitions), non-hit
    partitions keep their exact files, in-batch duplicates resolve
    last-writer-wins."""
    import pathlib

    from torua_spark.sources.io import merge_upsert
    from torua_spark.sources.local import local_df

    path = str(tmp_path / "lake")
    spark.range(1_000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        (F.col("id") % 4).alias("p"),
        F.lit("old").alias("val"),
    ).write.partitionBy("p").parquet(path)

    def mtimes():
        return {
            str(f): f.stat().st_mtime_ns
            for f in pathlib.Path(path).rglob("*.parquet")
        }

    before = mtimes()
    updates = local_df(
        spark,
        [
            ("k1", 1, "new1"),       # update in p=1
            ("k5", 1, "ignored"),    # duplicate key: later row wins
            ("k5", 1, "new5"),
            ("fresh", 1, "ins"),     # insert into existing partition
            ("other", 9, "ins9"),    # insert into NEW partition p=9
        ],
        "key string, p long, val string",
    )
    report = merge_upsert(spark, path, updates, "key", "p")
    assert report["partitions_written"] == 2
    assert report["rows_updated"] == 2
    assert report["rows_inserted"] == 2

    back = spark.read.parquet(path)
    assert back.count() == 1_000 + 2
    got = {r.key: r.val for r in back.filter(
        F.col("key").isin("k1", "k5", "fresh", "other", "k9")).collect()}
    assert got == {"k1": "new1", "k5": "new5", "fresh": "ins",
                   "other": "ins9", "k9": "old"}
    # partitions 0, 2, 3 untouched byte-for-byte
    after = mtimes()
    untouched = {f: t for f, t in before.items() if "/p=1/" not in f}
    assert untouched.items() <= after.items()


def test_quantize_rejects_inexact_span(spark):
    """span * 2^bits past 2^53 would let floor(double-div) drift off
    integer DIV at cell boundaries — must refuse, not drift."""
    import pytest

    with pytest.raises(ValueError, match="exceeds exact double range"):
        quantize_int("x", 0, 5 * 365 * 86400 * 1000, 16)  # 5y of millis
    # seconds-grain over the same 5 years is fine
    quantize_int("x", 0, 5 * 365 * 86400, 16)


def test_pruning_ratio_counts_missing_stats_as_kept():
    stats = [
        {"file": "a", "x_min": 0, "x_max": 10},
        {"file": "b", "x_min": None, "x_max": None},  # no footer stats
        {"file": "c", "x_min": 100, "x_max": 200},
    ]
    # box [0, 10]: file a kept, b kept (must be read), c skipped
    assert pruning_ratio(stats, "x", 0, 10) == 1 / 3


def test_merge_upsert_version_col_wins_regardless_of_row_order(spark, tmp_path):
    """CDC batches arrive shuffled: with version_col the highest
    version wins even when rows are physically reordered."""
    from torua_spark.sources.io import merge_upsert
    from torua_spark.sources.local import local_df

    path = str(tmp_path / "lake")
    spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.lit(0).alias("p"),
        F.lit("old").alias("val"),
    ).write.partitionBy("p").parquet(path)
    updates = local_df(
        spark,
        [("k1", 0, "v-late", 7), ("k1", 0, "v-early", 3), ("k1", 0, "v-mid", 5)],
        "key string, p long, val string, lsn long",
    ).repartition(4)  # destroy physical order on purpose
    merge_upsert(spark, path, updates, "key", "p", version_col="lsn")
    # the existing lake schema wins (no lsn column persisted) — only
    # the winning version's values land
    got = {r.key: r.val for r in spark.read.parquet(path)
           .filter("key = 'k1'").collect()}
    assert got == {"k1": "v-late"}


def test_local_df_rejects_row_length_mismatch(spark):
    import pytest

    from torua_spark.sources.local import local_df

    with pytest.raises(ValueError, match="row 1 has 3 values for 2"):
        local_df(spark, [(1, "a"), (2, "b", "EXTRA")], "a int, s string")


# ------------------------------------------------- swap-crash fault injection
def _mk_lake(spark, tmp_path):
    path = str(tmp_path / "lake")
    spark.range(1_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("key"),
        (F.col("id") % 4).alias("p"),
        (F.col("id") * 2).alias("payload"),
    ).write.partitionBy("p").parquet(path)
    return path


def _no_hidden_dirs(path):
    import pathlib

    return [p.name for p in pathlib.Path(path).iterdir()
            if p.name.startswith(".") and p.is_dir()] == []


def test_purge_recovers_from_crash_between_renames(spark, tmp_path, monkeypatch):
    """VERDICT r6 #6: the two-rename swap's worst crash point — live
    renamed to trash, tmp not yet renamed to live — must be fully
    recovered by the next run (roll FORWARD: the rewrite was already
    complete), converging to the purged state with zero leftovers."""
    import os
    import pathlib

    import pytest

    from torua_spark.sources import io

    path = _mk_lake(spark, tmp_path)
    real_swap = io.tree_swap_publish

    def crash_between(live, tmp, trash):
        os.rename(live, trash)
        raise RuntimeError("injected crash between renames")

    monkeypatch.setattr(io, "tree_swap_publish", crash_between)
    with pytest.raises(RuntimeError, match="injected"):
        io.purge_keys(spark, path, ["u1"], "key", "p")  # u1 lives in p=1
    # mid-swap wreckage: live gone, ORIGINAL bytes intact in trash,
    # rewrite intact in tmp — nothing lost
    assert not pathlib.Path(f"{path}/p=1").exists()
    assert pathlib.Path(f"{path}/.purge_trash_p=1").exists()
    assert pathlib.Path(f"{path}/.purge_tmp_p=1").exists()

    monkeypatch.setattr(io, "tree_swap_publish", real_swap)
    report = io.purge_keys(spark, path, ["u1"], "key", "p")
    # recovery rolled the completed rewrite forward, so the re-run
    # found nothing left to purge
    assert report["rows_deleted"] == 0
    back = spark.read.parquet(path)
    assert back.count() == 999
    assert back.filter("key = 'u1'").count() == 0
    assert _no_hidden_dirs(path)


def test_purge_recovers_from_crash_before_trash_cleanup(spark, tmp_path,
                                                        monkeypatch):
    """Crash point B: both renames done, trash not yet deleted. The
    table is already correct (hidden dirs are invisible to the parquet
    reader); the next run just sweeps the trash."""
    import os

    import pytest

    from torua_spark.sources import io

    path = _mk_lake(spark, tmp_path)
    real_swap = io.tree_swap_publish

    def crash_after_swap(live, tmp, trash):
        os.rename(live, trash)
        os.rename(tmp, live)
        raise RuntimeError("injected crash before trash cleanup")

    monkeypatch.setattr(io, "tree_swap_publish", crash_after_swap)
    with pytest.raises(RuntimeError, match="injected"):
        io.purge_keys(spark, path, ["u2"], "key", "p")
    back = spark.read.parquet(path)  # already consistent
    assert back.count() == 999
    assert back.filter("key = 'u2'").count() == 0

    monkeypatch.setattr(io, "tree_swap_publish", real_swap)
    io.purge_keys(spark, path, ["no-such-key"], "key", "p")
    assert spark.read.parquet(path).count() == 999
    assert _no_hidden_dirs(path)


def test_merge_recovers_and_rerun_converges(spark, tmp_path, monkeypatch):
    """merge_upsert shares the swap protocol: after an injected
    mid-swap crash, a straight re-run of the SAME merge converges to
    the upserted state (recovery + idempotent LWW rewrite)."""
    import os

    import pytest

    from torua_spark.sources import io
    from torua_spark.sources.local import local_df

    path = _mk_lake(spark, tmp_path)
    updates = local_df(
        spark,
        [("u1", 1, 111), ("u9999", 3, 999)],
        "key string, p long, payload long",
    )
    real_swap = io.tree_swap_publish

    def crash_between(live, tmp, trash):
        os.rename(live, trash)
        raise RuntimeError("injected crash between renames")

    monkeypatch.setattr(io, "tree_swap_publish", crash_between)
    with pytest.raises(RuntimeError, match="injected"):
        io.merge_upsert(spark, path, updates, "key", "p")

    monkeypatch.setattr(io, "tree_swap_publish", real_swap)
    io.merge_upsert(spark, path, updates, "key", "p")
    back = spark.read.parquet(path)
    assert back.count() == 1_001  # 1000 + 1 insert
    got = {r.key: r.payload for r in
           back.filter(F.col("key").isin("u1", "u9999")).collect()}
    assert got == {"u1": 111, "u9999": 999}
    assert _no_hidden_dirs(path)


def test_compact_refuses_nested_out_path(spark, tmp_path):
    """ADVICE r6: an out_path NESTED inside the input table is as
    fatal as in-place — later reads of the table double-count."""
    import pytest

    from torua_spark.sources.io import compact_files

    src = str(tmp_path / "lake")
    spark.range(10).write.parquet(src)
    with pytest.raises(ValueError, match="outside"):
        compact_files(spark, src, src + "/compacted", n_files=1)
