"""Streaming + multimodal queries vs oracles (batch-parity goldens)."""

import math

import pytest

from tests.oracle import compare
from torua_spark.queries import streaming_q, topology_q


@pytest.mark.parametrize("name", sorted(streaming_q.QUERIES))
def test_streaming_query_matches_oracle(spark, sf_dir, name):
    compare(streaming_q.QUERIES[name](spark, sf_dir), streaming_q.ORACLE[name], sf_dir)


def test_word_gram_digests_parity_with_hof(spark, sf_dir):
    """The Arrow shingling path (word_gram_digests) must be
    bit-identical to md5_32 over the pure-expression word_shingles —
    the contract that lets streaming_decontaminate swap evaluators
    without touching its oracle. Includes short (<n words), empty,
    and repeated-gram docs via the real corpus."""
    from pyspark.sql import functions as F

    from torua_spark.functions.text import (
        md5_32,
        word_gram_digests,
        word_shingles,
    )
    from torua_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    for n in (3, 8):
        hof = docs.select(
            "doc_id", F.explode(word_shingles("text", n)).alias("s")
        ).select("doc_id", md5_32(F.col("s")).alias("g"))
        arrow = docs.select(
            "doc_id", F.explode(word_gram_digests("text", n)).alias("g")
        )
        assert sorted(map(tuple, hof.collect())) == sorted(
            map(tuple, arrow.collect())
        )
    edge = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None), (4, "x y z x y z x y z")],
        "doc_id long, text string",
    )
    hof = edge.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("s")
    ).select("doc_id", md5_32(F.col("s")).alias("g"))
    arrow = edge.select(
        "doc_id", F.explode(word_gram_digests("text", 3)).alias("g")
    )
    assert sorted(map(tuple, hof.collect())) == sorted(map(tuple, arrow.collect()))


def test_streaming_health_equals_batch(spark, sf_dir):
    stream = {
        r["node_id"]: (r["unhealthy_transitions"], r["total_failures"], r["total_probes"])
        for r in streaming_q.q_streaming_health_state(spark, sf_dir).collect()
    }
    batch = {
        r["node_id"]: (r["unhealthy_transitions"], r["total_failures"], r["total_probes"])
        for r in topology_q.q_health_consecutive_failures(spark, sf_dir).collect()
    }
    assert stream == batch


def test_streaming_sessions_equal_batch_session_window(spark, sf_dir):
    """The same session_window operator must produce identical sessions
    whether driven by the streaming engine or the batch engine."""
    from torua_spark.queries import temporal_q

    stream = sorted(
        map(tuple, streaming_q.QUERIES["streaming_sessions"](spark, sf_dir).collect())
    )
    batch = sorted(
        map(tuple, temporal_q.q_session_window_native(spark, sf_dir).collect())
    )
    assert stream == batch


def test_frame_sample_plumbing(spark, sf_dir):
    """Frame sampling with the fake demux: one row per every_n-th
    frame, frame count derived from payload size, deterministic
    digests — verifies the in-UDF explode plumbing (unsampled frames
    never materialize) against an independently computed expectation."""
    from torua_spark.operators import multimodal
    from torua_spark.sources.catalog import load_table

    media = multimodal.to_media_table(load_table(spark, sf_dir, "documents"))
    out = multimodal.frame_sample(media, every_n=4)
    got = {(r["doc_id"], r["frame_idx"]): r["frame_digest"] for r in out.collect()}

    import hashlib

    expect = {}
    for r in media.select("doc_id", "payload").collect():
        n_frames = max(1, len(r["payload"]) // 1024)
        for i in range(0, n_frames, 4):
            expect[(r["doc_id"], i)] = hashlib.md5(
                bytes(r["payload"]) + f"_f{i}".encode()
            ).hexdigest()
    assert got == expect


def test_decode_uses_header_codec_then_fake():
    """_decode_batch has two tiers per payload: a payload the header
    codecs decode emits its real geometry, one they reject falls back
    to the deterministic md5 fake — same schema either way."""
    import hashlib

    import pandas as pd

    from torua_spark.operators import multimodal
    from torua_spark.operators.codecs import encode_pgm

    batch = pd.DataFrame(
        {"doc_id": [1, 2],
         "payload": [encode_pgm(7, 3, bytes(21)), b"not-an-image"]}
    )
    (out,) = list(multimodal._decode_batch([batch]))
    real, fake = out.iloc[0], out.iloc[1]
    assert (real["width"], real["height"], real["mode"]) == (7, 3, "L")
    x = int(hashlib.md5(b"not-an-image").hexdigest()[:8], 16)
    assert (fake["width"], fake["height"], fake["mode"]) == (
        1 + (x % 640), 1 + ((x // 640) % 480), "RGB",
    )
    assert list(out.columns) == [
        "doc_id", "n_bytes", "digest", "width", "height", "mode",
    ]


def test_resize_specs_fit_box_and_preserve_aspect(spark, sf_dir):
    from torua_spark.operators import multimodal
    from torua_spark.queries.streaming_q import q_multimodal_resize

    rows = q_multimodal_resize(spark, sf_dir).collect()
    for r in rows:
        assert 1 <= r["new_width"] <= multimodal.RESIZE_BOX
        assert 1 <= r["new_height"] <= multimodal.RESIZE_BOX
        if r["needs_resize"]:
            # each dim is the rounded ideal scaled size (clamped at 1)
            # and the long side lands exactly on the box edge
            scale = multimodal.RESIZE_BOX / max(r["width"], r["height"])
            assert r["new_width"] == max(1, int(r["width"] * scale + 0.5)), r
            assert r["new_height"] == max(1, int(r["height"] * scale + 0.5)), r
            assert max(r["new_width"], r["new_height"]) == multimodal.RESIZE_BOX, r
        else:
            assert (r["new_width"], r["new_height"]) == (r["width"], r["height"])


def test_resize_pixels_prunes_then_resamples(spark, sf_dir):
    """The pixel stage must only process needs_resize rows (the
    geometry prune IS the 100 TB win), and the fake resample must
    emit the planned dimensions with a bounded binary payload."""
    from torua_spark.operators import multimodal
    from torua_spark.sources.catalog import load_table

    media = multimodal.to_media_table(load_table(spark, sf_dir, "documents"))
    specs = multimodal.resize_specs(media)
    planned = {
        r["doc_id"]: (r["new_width"], r["new_height"])
        for r in specs.filter("needs_resize").collect()
    }
    out = multimodal.resize_pixels(media).collect()
    assert {r["doc_id"] for r in out} == set(planned)
    for r in out:
        assert (r["new_width"], r["new_height"]) == planned[r["doc_id"]]
        n = min(1024, r["new_width"] * r["new_height"] * 3)
        assert len(r["pixels"]) == n


def test_kafka_shape_schema_and_roundtrip(spark, sf_dir):
    """The wire schema IS Spark's Kafka source schema, and
    parse(to_kafka_shape(e)) == e on the typed columns (batch twins of
    the streaming constructors)."""
    from pyspark.sql import functions as F

    from torua_spark.sources import kafka_shaped as ks
    from torua_spark.sources.catalog import load_table

    # batch twin: the catalog loader applies the same ts normalization
    # as events_stream
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    wire = ks.to_kafka_shape(ev, "events")
    # names + types (nullability differs: lit() columns are
    # non-nullable while the real source marks everything nullable)
    assert [(f.name, f.dataType) for f in wire.schema.fields] == \
        [(f.name, f.dataType) for f in ks.KAFKA_SCHEMA.fields]

    back = ks.parse_event_values(wire)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    a = sorted(map(tuple, ev.select(*cols).collect()))
    b = sorted(map(tuple, back.select(*cols).collect()))
    assert a == b

    # wire metadata invariants: offset unique per (topic, partition),
    # partition within range, key bytes = utf-8 user_id
    meta = wire.select("topic", "partition", "offset", "key").collect()
    assert len({(m["topic"], m["partition"], m["offset"]) for m in meta}) == len(meta)
    assert all(0 <= m["partition"] < ks.N_SIM_PARTITIONS for m in meta)
    assert all(bytes(m["key"]).isdigit() for m in meta)


def test_kafka_stream_raises_clear_error_without_connector(spark):
    import pytest as _pytest

    from torua_spark.sources.kafka_shaped import kafka_stream

    with _pytest.raises(Exception):
        kafka_stream(spark, "t", "localhost:9092")


def test_profile_drift_flags_are_mixed_and_consistent(spark, sf_dir):
    """The drift monitor must separate in-band and out-of-band hourly
    windows (both flag values present at this threshold), and every
    flag must agree with recomputing the rounded predicate from the
    row's own stats."""
    from torua_spark.queries.streaming_q import QUERIES
    from torua_spark.sources.catalog import load_table
    from pyspark.sql import functions as F
    from torua_spark.functions.compat import round4

    rows = QUERIES["streaming_profile_drift"](spark, sf_dir).collect()
    assert len(rows) > 0
    flags = {r["drift"] for r in rows}
    assert flags == {True, False}
    base = float(
        load_table(spark, sf_dir, "events")
        .agg(round4(F.avg("value")).alias("b"))
        .first()["b"]
    )
    from torua_spark.streaming.windows import DRIFT_REL_THRESHOLD

    for r in rows:
        ratio = (
            math.floor(abs(r["avg_value"] - base) / abs(base) * 10000.0
                       + 0.5 + 1e-9) / 10000.0
        )
        assert r["drift"] == (ratio > DRIFT_REL_THRESHOLD), r
        assert r["n_events"] > 0 and r["min_value"] <= r["max_value"]


def test_heavy_hitters_summary_properties(spark, sf_dir):
    """The drained space-saving summaries: bounded size, reproducible
    run-to-run (pinned fold order), and estimates honor the sketch
    bounds against exact counts."""
    from pyspark.sql import functions as F

    from torua_spark.sources.catalog import load_table
    from torua_spark.streaming.heavy_hitters import (
        HH_CAPACITY,
        streaming_heavy_hitter_candidates,
    )

    cand = streaming_heavy_hitter_candidates(spark, sf_dir).collect()
    per_key = {}
    for r in cand:
        per_key.setdefault(r["event_type"], []).append(r)
    assert per_key
    for rows in per_key.values():
        assert len(rows) <= HH_CAPACITY
        assert all(r["est"] >= r["err"] >= 0 for r in rows)
    again = streaming_heavy_hitter_candidates(spark, sf_dir).collect()
    assert sorted(map(tuple, cand)) == sorted(map(tuple, again))
    exact = {
        (r["event_type"], r["user_id"]): r["freq"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()
    }
    for r in cand:
        f = exact.get((r["event_type"], r["user_id"]), 0)
        assert r["est"] >= f and r["est"] - r["err"] <= f


def test_heavy_hitters_multi_batch_keeps_final_summary_only(spark, tmp_path):
    """Two micro-batches with disjoint-ish user sets: users EVICTED in
    batch 2 must NOT resurrect from their batch-1 emissions — the
    capacity bound and the upper-bound guarantee must hold on the
    final reconstruction (this is the exact failure mode of a
    per-(key,user) latest-row rule)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from torua_spark.streaming.heavy_hitters import (
        HH_CAPACITY,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _update,
    )

    src = tmp_path / "waves"
    src.mkdir()
    schema = "event_type string, user_id long, ts timestamp, event_id long"
    # wave 1: users 0..9 once each (fills and churns the capacity-8
    # summary); wave 2: users 100..104, 30 times each (true HHs)
    w1 = [("a", u, f"2024-01-01 00:00:{u:02d}", u) for u in range(10)]
    w2 = [
        ("a", 100 + (i % 5), f"2024-01-01 01:{i // 60:02d}:{i % 60:02d}", 1000 + i)
        for i in range(150)
    ]
    for i, wave in enumerate((w1, w2)):
        spark.createDataFrame(
            [(t, u, __import__("datetime").datetime.fromisoformat(ts), e)
             for t, u, ts, e in wave],
            schema,
        ).coalesce(1).write.parquet(str(src / f"wave{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "wave*"))
    )
    result = stream.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    import uuid as _uuid

    name = f"hhmb_{_uuid.uuid4().hex[:8]}"
    q = result.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = spark.table(name).localCheckpoint(eager=True)
    assert snap.select("n").agg(F.max("n")).first()[0] == 160  # 2 batches ran
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    final = (
        snap.withColumn("_m", F.max("n").over(w))
        .filter(F.col("n") == F.col("_m"))
        .collect()
    )
    assert 0 < len(final) <= HH_CAPACITY
    exact = {}
    for t, u, _, _ in w1 + w2:
        exact[u] = exact.get(u, 0) + 1
    for r in final:
        assert r["est"] >= exact.get(r["user_id"], 0)
        assert r["est"] - r["err"] <= exact.get(r["user_id"], 0)
    # every true heavy hitter (freq > 160/8 = 20) is present
    cands = {r["user_id"] for r in final}
    for u, f_ in exact.items():
        if f_ > 160 / HH_CAPACITY:
            assert u in cands, (u, f_)


def test_streaming_quality_gate_equals_batch(spark, sf_dir):
    """The ingest gate is stateless per document, so the drained
    stream must equal the batch classifier row-for-row — the
    equivalence the shared oracle relies on."""
    from torua_spark.operators.text_analysis import linear_quality_score
    from torua_spark.queries.rag_q import QUALITY_BIAS, _quality_weights
    from torua_spark.sources.catalog import load_table
    from torua_spark.streaming.windows import streaming_quality_gate

    w = _quality_weights()
    got = sorted(
        map(tuple, streaming_quality_gate(spark, sf_dir, w, QUALITY_BIAS).collect())
    )
    want = sorted(
        map(
            tuple,
            linear_quality_score(
                load_table(spark, sf_dir, "documents"), w, QUALITY_BIAS
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_streaming_audio_dedup_equals_batch(spark, sf_dir):
    """r12 audio streaming twin: every doc streams exactly once
    against a persisted index of the full media relation and each
    pair is emitted when its smaller id streams, so the drained union
    equals the batch dedup_audio_fingerprint pass row-for-row (the
    streaming_image_dedup / streaming_knn protocol on the audio
    fingerprint tier)."""
    from torua_spark.queries import rag_q
    from torua_spark.streaming.windows import streaming_audio_dedup

    streamed = sorted(
        map(tuple, streaming_audio_dedup(spark, sf_dir).collect())
    )
    batch = sorted(
        map(
            tuple,
            rag_q.QUERIES["dedup_audio_fingerprint"](spark, sf_dir).collect(),
        )
    )
    assert streamed == batch
    assert len(batch) > 0


def test_streaming_audio_spectral_equals_batch_rows(spark, sf_dir):
    """r14 spectral streaming twin: the drained union equals the batch
    dedup_audio_spectral pass row-for-row (the same index-probe
    protocol at the spectral fingerprint; all three plant tiers —
    original, exact-silence pad, dithered pad — collide through the
    stream exactly as in batch)."""
    from torua_spark.queries import rag_q
    from torua_spark.streaming.windows import streaming_audio_spectral

    streamed = sorted(
        map(tuple, streaming_audio_spectral(spark, sf_dir).collect())
    )
    batch = sorted(
        map(
            tuple,
            rag_q.QUERIES["dedup_audio_spectral"](spark, sf_dir).collect(),
        )
    )
    assert streamed == batch
    assert len(batch) > 0


def test_streaming_video_dedup_equals_batch(spark, sf_dir):
    """r13 video streaming twin: every doc (clip) streams exactly once
    against a persisted frame-hash index of the full media relation;
    the ordered join's left-side-smaller filter is exactly "emit when
    the smaller CLIP streams" (clip id occupies the synthetic frame
    id's high bits), and a pair's full frame-match count is available
    in that one batch, so the min-matching-frames gate holds per
    emission with no cross-batch state. The drained union equals the
    batch dedup_video_fingerprint pass row-for-row."""
    from torua_spark.queries import rag_q
    from torua_spark.streaming.windows import streaming_video_dedup

    streamed = sorted(
        map(tuple, streaming_video_dedup(spark, sf_dir).collect())
    )
    batch = sorted(
        map(
            tuple,
            rag_q.QUERIES["dedup_video_fingerprint"](spark, sf_dir).collect(),
        )
    )
    assert streamed == batch
    assert len(batch) > 0
