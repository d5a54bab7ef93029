"""Per-job time attribution for one registered query, declared or
extra (guide §1: measure first, empirically). Runs the query cold
then warm in a `get_spark` session with the Spark event log on, each
pass split into BUILD (constructing the DataFrame — index builds and
driver loops fire jobs here) and EXECUTE (one count()). Every job
carries its phase in the ``perfbench.label`` local property, and
`perfbench.eventlog.attribute` folds the log into jobs, stages,
tasks, task time, shuffle volume and the wall time no job covered,
so the expensive phase is named instead of guessed.

Usage: python scripts/profile_query.py <query> [sf_dir] [runs]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from torua_spark.queries import all_queries, extra_queries  # noqa: E402
from torua_spark.session import get_spark  # noqa: E402


def _profile(name: str, sf_dir: str, runs: int, log_dir: str):
    """Run the passes with the event log in ``log_dir``; return the
    wall span of each label and its attributed totals."""
    # The event log is a launch-time setting: it has to reach the JVM
    # through the submit args before get_spark starts it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{log_dir}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    fn = {**extra_queries(), **all_queries()}[name]
    spark = get_spark(f"profile_{name}")
    sc = spark.sparkContext
    spans: dict[str, tuple[float, float]] = {}

    def timed(label: str, thunk):
        sc.setLocalProperty(eventlog.LABEL_KEY, label)
        t0 = time.time()
        try:
            return thunk()
        finally:
            spans[label] = (t0 * 1000.0, time.time() * 1000.0)
            sc.setLocalProperty(eventlog.LABEL_KEY, None)

    try:
        for i in range(runs):
            df = timed(f"run{i}|build", lambda: fn(spark, sf_dir))
            timed(f"run{i}|execute", df.count)
    finally:
        spark.stop()  # closes the event log before it is read or removed
    return spans, eventlog.attribute(log_dir, {})


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    with tempfile.TemporaryDirectory(prefix="profile_query_") as log_dir:
        spans, totals = _profile(name, sf_dir, runs, log_dir)

    print(f"query={name} sf_dir={sf_dir}")
    for label, (lo, hi) in spans.items():
        t = totals.get(label, {})
        jobs = t.get("intervals", [])
        outside = (hi - lo - eventlog.covered_ms(jobs, lo, hi)) / 1000.0
        print(
            f"{label:14s} wall={(hi - lo) / 1000.0:8.3f}s  "
            f"jobs={int(t.get('jobs', 0)):4d} stages={int(t.get('stages', 0)):4d} "
            f"tasks={int(t.get('tasks', 0)):6d}  task={t.get('task_s', 0.0):8.3f}s  "
            f"shuffle r/w={t.get('shuffle_read_mb', 0.0):.1f}/"
            f"{t.get('shuffle_write_mb', 0.0):.1f} MB  outside jobs={outside:.3f}s"
        )
        for a, b in jobs:
            print(f"    job at +{(a - lo) / 1000.0:8.3f}s  {(b - a) / 1000.0:8.3f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
