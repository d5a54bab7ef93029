"""Streaming deduplication (north-star training-pipeline op; the
reference's closest analog is A2's last-write-wins upsert —
`internal/storage/store.go` PUT semantics — re-expressed as
first-seen-wins over an event stream).

``streaming_distinct_users`` runs a REAL Structured Streaming query:
file source -> watermark -> ``dropDuplicates`` on (user_id,
event_type) -> append-mode memory sink, drained synchronously. The
dedup operator emits the first occurrence of each key and keeps one
state row per key; the watermark bounds that state — keys older than
the watermark are evicted, so state is O(active keys in the watermark
horizon), not O(stream). That eviction contract is what makes
streaming dedup viable on an unbounded 100 TB/day firehose, and it is
the plan you'd deploy against Kafka unchanged.

Which PHYSICAL row survives per key depends on micro-batch arrival
order (nondeterministic across partitions), so the declared query
emits only the deduped KEY SET aggregated per event_type — a
deterministic, batch-equivalent result the DuckDB oracle checks as
count(DISTINCT user_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from torua_spark.streaming.windows import drain_to_batch, events_stream


def streaming_distinct_users(spark: SparkSession, sf_dir: str,
                             watermark: str = "10 minutes") -> DataFrame:
    """Declared `streaming_dedup`: distinct (user_id, event_type) via
    streaming dropDuplicates, then per-type distinct-user counts."""
    deduped = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    # The snapshot holds one row per (user_id, event_type); the final
    # rollup is a tiny batch aggregation over it.
    return drain_to_batch(deduped, "append").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_distinct_users")
    )
