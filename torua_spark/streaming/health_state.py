"""Stateful streaming health monitor (reference A21 realized as a
custom stateful streaming operator).

The reference keeps {ConsecutiveFails, Status} per node updated by a
probe loop (internal/coordinator/health_monitor.go:204-254). Here that
state machine runs inside ``applyInPandasWithState``: the state is one
(streak, transitions) pair per node — O(nodes) memory regardless of
stream length — and each micro-batch folds its probes (sorted by event
time) through the same 3-consecutive-failures/reset-on-success rule
the batch operator (operators.health) evaluates with windows.

Because the batch and streaming operators implement one contract, the
streaming output is oracle-checkable against the batch SQL — the
"batch-parity golden" the survey's test plan calls for.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from torua_spark.constants import HEALTH_FAILURE_THRESHOLD
from torua_spark.operators.health import FAIL_VALUE_CUTOFF, N_HEALTH_NODES, PROBE_EVENT_TYPE
from torua_spark.streaming.windows import drain_to_batch, events_stream

OUTPUT_SCHEMA = (
    "node_id string, unhealthy_transitions long, total_failures long, total_probes long"
)
STATE_SCHEMA = "streak long, transitions long, failures long, probes long"


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    streak, transitions, failures, probes = (
        state.get if state.exists else (0, 0, 0, 0)
    )
    # The group's batch rows arrive as MULTIPLE Arrow chunks in
    # nondeterministic fetch order (the source repartition spreads the
    # file across tasks); a per-chunk sort is only a global ts order if
    # chunks happen to arrive ordered. Concat first, sort ONCE — the
    # group is one node's probes for one micro-batch, bounded by the
    # batch, so the concat is small by construction.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
        for fail in pdf["fail"]:
            probes += 1
            if fail:
                failures += 1
                streak += 1
                if streak == HEALTH_FAILURE_THRESHOLD:
                    transitions += 1  # onUnhealthy fires exactly once per episode
            else:
                streak = 0
    state.update((streak, transitions, failures, probes))
    yield pd.DataFrame(
        {
            "node_id": [key[0]],
            "unhealthy_transitions": [transitions],
            "total_failures": [failures],
            "total_probes": [probes],
        }
    )


def streaming_consecutive_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful health monitor over the events stream and
    return the final per-node state as a batch DataFrame."""
    from pyspark.sql import functions as F

    probes = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == PROBE_EVENT_TYPE)
        .select(
            F.concat(F.lit("n"), F.pmod(F.col("user_id"), F.lit(N_HEALTH_NODES))).alias("node_id"),
            "ts",
            "event_id",
            F.when(F.col("value") < FAIL_VALUE_CUTOFF, F.lit(1)).otherwise(F.lit(0)).alias("fail"),
        )
    )
    result = probes.groupBy("node_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = drain_to_batch(result, "update")
    # "update" mode appends one row per key per batch; keep the LAST
    # emitted state per node. The state's probe counter is strictly
    # monotonic across a node's emissions (a group only fires when the
    # batch delivered it rows, and every row increments probes), so
    # keep-last == max(total_probes) per node — expressible as a
    # row_number window in Spark rather than a driver-side pandas
    # groupby, and order-independent where the memory sink's row
    # order is not contractual.
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("node_id").orderBy(F.desc("total_probes"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
