"""Stateful streaming heavy hitters — the space-saving sketch as an
``applyInPandasWithState`` operator: per key (event_type) the state is
a CAPACITY-bounded (item, count, err) summary plus the stream length,
O(capacity) memory per key regardless of stream length — the
bounded-state answer to "top users per event type" that an exact
count would solve with O(distinct users) state.

Space-saving guarantees (Metwally et al., order-independent truths —
they hold for ANY arrival order, which is what makes a deterministic
driver check possible even though the summary CONTENTS are
order-dependent):

- every item with true frequency > n/capacity is in the summary;
- for every summary item: ``est >= true_freq`` and
  ``est - err <= true_freq``.

The declared check (`streaming_heavy_hitters`) drains the stream,
joins the candidates against the batch-side exact counts, and emits
the guarantees as per-key booleans — the tolerance-oracle contract
(`approx_stats`): the DuckDB side emits TRUE constants and the hash
matches iff every sketch honored its bound.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from torua_spark.streaming.windows import drain_to_batch, events_stream

HH_CAPACITY = 8

OUTPUT_SCHEMA = "event_type string, user_id long, est long, err long, n long"
STATE_SCHEMA = (
    "items array<long>, counts array<long>, errs array<long>, n long"
)


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    if state.exists:
        items, counts, errs, n = state.get
        summary = {
            int(i): [int(c), int(e)] for i, c, e in zip(items, counts, errs)
        }
    else:
        summary, n = {}, 0
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        # deterministic fold order (same rationale as health_state):
        # the guarantees hold for any order, but a pinned order makes
        # the summary itself reproducible run-to-run
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for u in pdf["user_id"]:
            u = int(u)
            n += 1
            if u in summary:
                summary[u][0] += 1
            elif len(summary) < HH_CAPACITY:
                summary[u] = [1, 0]
            else:
                # evict the min-count item (ties to the smallest id —
                # determinism again); the newcomer inherits its count
                # as the overestimation error
                mu = min(summary, key=lambda k: (summary[k][0], k))
                mc = summary.pop(mu)[0]
                summary[u] = [mc + 1, mc]
    ks = sorted(summary)
    state.update((
        ks, [summary[k][0] for k in ks], [summary[k][1] for k in ks], n,
    ))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(ks),
            "user_id": ks,
            "est": [summary[k][0] for k in ks],
            "err": [summary[k][1] for k in ks],
            "n": [n] * len(ks),
        }
    )


def streaming_heavy_hitter_candidates(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Drain the space-saving operator over the event stream; returns
    the FINAL per-key summaries as a batch DataFrame."""
    ev = events_stream(spark, sf_dir).select(
        "event_type", "user_id", "ts", "event_id"
    )
    result = ev.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    snap = drain_to_batch(result, "update")
    # update-mode sink holds one emission PER BATCH per key; only the
    # final batch's rows are the final summary. Keep rows carrying the
    # KEY's max n (the whole-key last emission, which re-emits every
    # surviving item) — a per-(key, user) latest-row rule would
    # resurrect users EVICTED in later batches with stale counts,
    # breaking both the capacity bound and the upper-bound guarantee
    # on any multi-batch source.
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("event_type")
    return (
        snap.withColumn("_maxn", F.max("n").over(w))
        .filter(F.col("n") == F.col("_maxn"))
        .drop("_maxn")
    )


def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared `streaming_heavy_hitters`: the space-saving guarantees
    checked against batch-side exact counts, reduced to per-key
    booleans (tolerance-oracle contract — DuckDB emits TRUE
    constants)."""
    from pyspark.sql import functions as F

    from torua_spark.sources.catalog import load_table

    cand = streaming_heavy_hitter_candidates(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("freq")
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    # per-candidate bound checks
    cj = cand.join(exact, ["event_type", "user_id"], "left").select(
        "event_type",
        (F.col("est") >= F.coalesce(F.col("freq"), F.lit(0))).alias("ub_ok"),
        ((F.col("est") - F.col("err"))
         <= F.coalesce(F.col("freq"), F.lit(0))).alias("lb_ok"),
    )
    bounds = cj.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.min("ub_ok").alias("est_is_upper_bound"),
        F.min("lb_ok").alias("est_minus_err_is_lower_bound"),
    )
    # every true heavy hitter (freq > n/capacity) must be a candidate
    hh = exact.join(totals, "event_type").filter(
        F.col("freq") > F.col("n_events") / F.lit(HH_CAPACITY)
    )
    missed = hh.join(
        cand.select("event_type", "user_id"), ["event_type", "user_id"],
        "left_anti",
    ).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_missed"))
    return (
        totals.join(bounds, "event_type")
        .join(missed, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.col("n_candidates").cast("long").alias("n_candidates"),
            "est_is_upper_bound",
            "est_minus_err_is_lower_bound",
            (F.coalesce(F.col("n_missed"), F.lit(0)) == 0).alias(
                "contains_all_heavy_hitters"
            ),
        )
    )
