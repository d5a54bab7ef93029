"""One benchmark process, started fresh by ``run.py``.

The process sets up once, counting from its own start: it creates the
session through ``get_spark``, merges the query registry and
(``kv_serving``) seeds the KV state, writes it with ``checkpoint_to``
and reads it back with ``restore_from``. A fixed number of warm-up
passes (or rounds) then start the Python workers and let the JVM
compile the hot code, and the timed passes (or rounds) follow. All of
them make up ``work_s``; only the timed ones enter the per-pass figures.
Every output is checked against ``pins.json`` or, for the KV client,
against a dict model of what it wrote.

With ``--trace 1`` the same protocol runs with the layer spans on during
the timed passes and with the Spark event log written (``run.py``
enables it through launch-time conf); jobs are attributed to the calls
that caused them. Workloads with stream entries always register a
``StreamingQueryListener`` for the micro-batch durations.

Writes one JSON document to ``--out``; ``run.py`` turns it into the
printed result.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import statistics
import sys
import threading
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, tracing  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.outputs import fingerprint, load_pins  # noqa: E402

# the layer modules the workloads call (spans of any other module are
# still recorded in spans.jsonl)
PER_LAYER_MODULES = [
    "operators.graph", "operators.similarity", "operators.text_analysis", "operators.kv",
    "plans.pattern", "functions.bpe", "functions.vectors", "functions.hashing",
    "sources.catalog", "sources.local", "sources.io", "sources.layout",
    "streaming.windows", "engine",
]
STREAM_PHASES = ["triggerExecution", "addBatch", "queryPlanning", "walCommit", "latestOffset"]


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: the driver, the
    JVM, the PySpark daemon, its live workers and the workers it reaped.
    Time the hypervisor steals from the guest is not in it."""
    sid = os.getsid(0)
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def make_listener(ctx):
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Listener(StreamingQueryListener):
        """Maps each query id to the label current at its start (the
        start event is delivered synchronously, inside the caller's
        ``start()``), and keeps every progress report."""

        def onQueryStarted(self, event):
            with ctx.lock:
                ctx.query_labels[str(event.id)] = ctx.label

        def onQueryProgress(self, event):
            p = event.progress
            rows = sum(op.numRowsTotal for op in p.stateOperators)
            with ctx.lock:
                ctx.progress.append((str(p.id), dict(p.durationMs), rows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with ctx.lock:
                ctx.terminated += 1

    return Listener()


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.cpus = len(os.sched_getaffinity(0))
        self.tmp = os.environ["TMPDIR"]
        self.log_dir = os.environ.get("PERFBENCH_EVENTLOG_DIR", "")
        self.streams = any(
            W.GROUP_OF[n] == "streams" for n in W.BATCH_ENTRIES.get(self.workload, [])
        )
        self.spark = None
        self.qs = None
        self.pins = load_pins()["entries"]
        self.lock = threading.Lock()
        self.label = None
        self.query_labels: dict[str, str] = {}
        self.progress: list[tuple[str, dict, int]] = []
        self.terminated = 0
        self.setup_info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.found_gets = 0
        self.failures: list[str] = []

    # ------------------------------------------------------------ set-up
    def set_label(self, label: str | None) -> None:
        self.label = label
        self.spark.sparkContext.setLocalProperty(eventlog.LABEL_KEY, label)

    def setup(self, started: float) -> None:
        from torua_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench_{self.workload}", cpus=self.cpus)
        get_spark_s = time.perf_counter() - t0
        if self.streams:
            self.spark.streams.addListener(make_listener(self))
        from torua_spark.queries import all_queries

        self.qs = all_queries()
        t1 = time.perf_counter()
        self.set_label("setup")
        if self.workload == "kv_serving":
            self.kv_setup()
        self.set_label(None)
        self.setup_info = {
            "setup_s": time.time() - started,
            "get_spark_s": get_spark_s,
            "build_s": time.perf_counter() - t1,
        }

    def n_passes(self) -> int:
        n = max(1, math.ceil(self.args.seconds / W.NOMINAL_PASS_S[self.workload]))
        # a traced run needs a unit with spans and one without
        return max(n, 2) if self.args.trace else n

    def n_warmup(self) -> int:
        # a traced run compares warm units only, so it warms up at least once
        return max(W.WARMUP_UNITS[self.workload], self.args.trace)

    # ------------------------------------------------------- batch passes
    def batch_pass(self, tag: str, order: list[str]) -> dict:
        entries = {}
        for name in order:
            label = f"{tag}|{name}"
            build_s = execute_s = 0.0
            error = None
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                self.set_label(label + "|build")
                df = self.qs[name](self.spark, W.DATA_DIR)
                build_s = time.perf_counter() - t0
                self.set_label(label + "|execute")
                t1 = time.perf_counter()
                rows = df.collect()
                execute_s = time.perf_counter() - t1
                columns = df.columns
            except Exception as e:  # an entry that raises counts as failed
                error = f"{type(e).__name__}: {str(e)[:300]}"
                build_s = build_s or time.perf_counter() - t0
            w1 = time.time()
            self.set_label(None)
            self.attempted += 1
            if error is None:
                got = fingerprint(columns, [tuple(r) for r in rows])
                if got != self.pins[name]:
                    error = f"output mismatch: got {got}, pinned {self.pins[name]}"
            if error is not None:
                self.failed += 1
                self.failures.append(f"{name}: {error}")
            entries[name] = {
                "build_s": build_s, "execute_s": execute_s,
                "s": build_s + execute_s, "wall": (w0 * 1000.0, w1 * 1000.0),
            }
            df = rows = None
            gc.collect()
        return {
            "no": tag, "entries": entries,
            "pass_s": sum(e["s"] for e in entries.values()),
        }

    def batch_order(self, rng) -> list[str]:
        order = list(W.BATCH_ENTRIES[self.workload])
        rng.shuffle(order)
        return order

    # ------------------------------------------------------------- kv
    def kv_setup(self) -> None:
        from torua_spark.engine import ToruaEngine

        self.kv_stream = W.KvStream(self.args.seed)
        initial = self.kv_stream.initial_state()
        self.model = dict(initial)
        self.kv_dirs = [os.path.join(self.tmp, f"kv-{os.getpid()}-{i}") for i in (0, 1)]
        self.kv_slot = 0
        engine = ToruaEngine(self.spark).put_many(initial)
        engine.checkpoint_to(self.kv_dirs[0])
        self.kv = ToruaEngine.restore_from(self.spark, self.kv_dirs[0])

    def kv_op(self, op: str) -> tuple[bool, str]:
        """Run one client op; return (correct, detail)."""
        from torua_spark.engine import ToruaEngine

        s, model = self.kv_stream, self.model
        if op == "get":
            k = s.key()
            got = self.kv.get(k)
            self.found_gets += got is not None
            return got == model.get(k), f"get {k}: {got!r} != {model.get(k)!r}"
        if op == "multi_get":
            keys = s.keys(W.KV_BATCH)
            got = self.kv.multi_get(keys)
            want = {k: model[k] for k in keys if k in model}
            return got == want, f"multi_get {keys}: {got} != {want}"
        if op == "scan":
            lo, hi = s.scan_range()
            got = self.kv.scan(lo, hi)
            want = sorted(k for k in model if lo <= k < hi)
            return got == want, f"scan [{lo},{hi}): {got} != {want}"
        if op == "put_many":
            items = dict((k, s.value()) for k in s.keys(W.KV_BATCH))
            self.kv.put_many(list(items.items()))
            model.update(items)
            return True, ""
        if op == "delete":
            k = s.key()
            self.kv.delete(k)
            model.pop(k, None)
            return True, ""
        if op == "checkpoint":
            self.kv_slot ^= 1
            path = self.kv_dirs[self.kv_slot]
            self.kv.checkpoint_to(path)
            self.kv = ToruaEngine.restore_from(self.spark, path)
            return True, ""
        raise ValueError(op)

    def kv_round(self, tag: str) -> dict:
        ops = []
        found_before = self.found_gets
        for i, op in enumerate(W.KV_ROUND):
            self.set_label(f"{tag}|{i}:{op}|op")
            t0 = time.perf_counter()
            try:
                ok, detail = self.kv_op(op)
            except Exception as e:  # a failing op counts as failed
                ok, detail = False, f"{op} raised {type(e).__name__}: {str(e)[:300]}"
            ms = (time.perf_counter() - t0) * 1000.0
            self.set_label(None)
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(detail[:500])
            ops.append((op, ms))
        return {
            "no": tag, "ops": ops,
            "found_gets": self.found_gets - found_before,
            "pass_s": sum(ms for _, ms in ops) / 1000.0,
        }

    # ------------------------------------------------------------- driver
    def wait_for_listener(self) -> None:
        """Progress events arrive asynchronously; wait until they settle."""
        if not self.streams:
            return
        deadline = time.time() + 5.0
        last = -1
        while time.time() < deadline:
            with self.lock:
                n = len(self.progress) + self.terminated
            if n == last:
                return
            last = n
            time.sleep(0.3)

    def main(self) -> dict:
        rng = random.Random(self.args.seed)
        self.setup(self.args.started)

        def run_unit(tag: str) -> dict:
            if self.workload == "kv_serving":
                return self.kv_round(tag)
            return self.batch_pass(tag, self.batch_order(rng))

        # warm-up units start the Python workers and let the JVM compile
        # the hot code; they count in work_s but in no per-pass figure
        self.warmup = [run_unit(f"w{i}") for i in range(self.n_warmup())]
        units = []
        for i in range(self.n_passes()):
            # a traced run turns the spans on and off in an ABBA pattern; a
            # drift across the run weighs on both halves alike when the
            # number of timed units is a multiple of four
            tracing.SPANS.enabled = bool(self.args.trace) and i % 4 in (0, 3)
            cpu0 = session_cpu_s()
            unit = run_unit(str(i))
            unit.update(cpu_s=session_cpu_s() - cpu0, spans=tracing.SPANS.enabled)
            units.append(unit)
        tracing.SPANS.enabled = False
        self.wait_for_listener()
        self.spark.stop()
        result = self.plain_metrics(units)
        if self.args.trace:
            result["per_layer"] = self.traced_metrics(units)
        result.update(
            attempted=self.attempted, failed=self.failed,
            failures=self.failures[:20], cpus=self.cpus,
        )
        return result

    # ------------------------------------------------------------ metrics
    def step_times(self, unit: dict) -> dict:
        """Seconds of each step of a unit: a batch entry by name, or a
        KV op by its position in the round."""
        if self.workload == "kv_serving":
            return {i: ms / 1000.0 for i, (_, ms) in enumerate(unit["ops"])}
        return {name: e["s"] for name, e in unit["entries"].items()}

    def typical_unit_s(self, units: list[dict]) -> float:
        """The time of a typical unit: each step's median over the timed
        units, summed. A slow moment of the host lengthens the steps it
        falls on, in one unit; the medians leave it out."""
        steps = [self.step_times(u) for u in units]
        return sum(statistics.median(st[k] for st in steps) for k in steps[0])

    def op_latencies(self, units: list[dict]) -> list[float]:
        if self.workload == "kv_serving":
            return [ms for u in units for _, ms in u["ops"]]
        return [e["s"] * 1000.0 for u in units for e in u["entries"].values()]

    def block_progress(self) -> list[tuple[str, dict, int]]:
        """Progress reports of the queries started by the timed passes."""
        with self.lock:
            return [
                (qid, d, rows) for qid, d, rows in self.progress
                if self.query_labels.get(qid, "x").split("|", 1)[0].isdigit()
            ]

    def plain_metrics(self, units: list[dict]) -> dict:
        lat = self.op_latencies(units)
        done = self.warmup + units
        # the run's whole fixed work: a sum over every unit, the cold ones
        # included, varies less from run to run than any one unit does
        e2e = {"work_s": (sum(u["pass_s"] for u in done), "s", len(done))}
        extra = {
            "pass_s": (self.typical_unit_s(units), "s", len(units)),
            "pass_cpu_s": (statistics.median(u["cpu_s"] for u in units), "s", len(units)),
            "op_p50_ms": (statistics.median(lat), "ms", len(lat)),
            "failed_frac": (self.failed / max(1, self.attempted), "frac", self.attempted),
        }
        if self.workload == "kv_serving":
            by_op = defaultdict(list)
            for u in units:
                for op, ms in u["ops"]:
                    by_op[op].append(ms)
            total_s = sum(u["pass_s"] for u in units)
            gets = by_op["get"]
            extra.update(
                get_p50_ms=(statistics.median(gets), "ms", len(gets)),
                get_p90_ms=(pct(gets, 0.9), "ms", len(gets)),
                put_p50_ms=(statistics.median(by_op["put_many"]), "ms", len(by_op["put_many"])),
                scan_p50_ms=(statistics.median(by_op["scan"]), "ms", len(by_op["scan"])),
                kv_ops_per_s=(len(lat) / total_s, "1/s", len(lat)),
                # share of round time spent in checkpoint_to -> restore_from
                checkpoint_frac=(sum(by_op["checkpoint"]) / 1000.0 / total_s, "frac", len(units)),
            )
        else:
            for name in W.BATCH_ENTRIES[self.workload]:
                times = [u["entries"][name]["s"] for u in units]
                extra[f"entry.{name}.s"] = (statistics.median(times), "s", len(times))
        if self.streams:
            trig = [d.get("triggerExecution", 0) for _, d, _ in self.block_progress()]
            if trig:
                extra.update(
                    microbatch_p50_ms=(float(statistics.median(trig)), "ms", len(trig)),
                    microbatch_p90_ms=(float(pct(trig, 0.9)), "ms", len(trig)),
                )
        for u in done:
            extra[f"unit.{u['no']}.s"] = (u["pass_s"], "s", 1)
        return {
            "end_to_end": e2e, "extra": extra, "setup": self.setup_info,
            "steps": [self.step_times(u) for u in done],
        }

    def traced_metrics(self, units: list[dict]) -> dict:
        ev = eventlog.attribute(self.log_dir, dict(self.query_labels))
        per_unit = 1.0 / len(units)
        timed = {label: t for label, t in ev.items() if label.split("|", 1)[0].isdigit()}

        def total(key: str, test=lambda label: True) -> float:
            return sum(t.get(key, 0.0) for label, t in timed.items() if test(label))

        m = {}
        for k in ("jobs", "stages", "tasks", "sched_delay_s", "task_s", "task_cpu_s",
                  "jvm_gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "input_mb", "failed_tasks", "stream_jobs"):
            m[f"spark.{k}"] = total(k) * per_unit
        spanned = [u["pass_s"] for u in units if u["spans"]]
        plain = [u["pass_s"] for u in units if not u["spans"]]
        for layer in PER_LAYER_MODULES:
            m[f"{layer}.self_s"] = tracing.SPANS.self_s.get(layer, 0.0) / len(spanned)
        # the event log and the listener run in both halves; this is the
        # cost of the spans
        m["trace_overhead_frac"] = (
            statistics.median(spanned) / statistics.median(plain) - 1.0 if plain else 0.0
        )
        for name in W.ALL_ENTRIES:
            m[f"entry.{name}.s"] = 0.0
            m[f"entry.{name}.jobs"] = 0.0
        for group in W.GROUPS:
            m[f"group.{group}.s"] = 0.0
        outside_ms = 0.0
        stream_s = 0.0
        for k in ("queries.build_s", "queries.execute_s", "engine.jobs_per_op",
                  "engine.tasks_per_get", "engine.rows_read_per_get", "engine.checkpoint_s",
                  "engine.checkpoint_frac"):
            m[k] = 0.0
        if self.workload == "kv_serving":
            ops = [op for u in units for op, _ in u["ops"]]
            n_gets = ops.count("get")
            is_get = lambda label: ":get|" in label  # noqa: E731
            ck = [ms for u in units for op, ms in u["ops"] if op == "checkpoint"]
            m["engine.jobs_per_op"] = total("jobs") / len(ops)
            m["engine.tasks_per_get"] = total("tasks", is_get) / max(1, n_gets)
            m["engine.rows_read_per_get"] = (
                total("input_records", is_get) + total("shuffle_records_read", is_get)
            ) / max(1, sum(u["found_gets"] for u in units))
            m["engine.checkpoint_s"] = statistics.mean(ck) / 1000.0 if ck else 0.0
            m["engine.checkpoint_frac"] = sum(ck) / 1000.0 / sum(u["pass_s"] for u in units)
        else:
            for u in units:
                for name, e in u["entries"].items():
                    m["queries.build_s"] += e["build_s"] * per_unit
                    m["queries.execute_s"] += e["execute_s"] * per_unit
                    m[f"entry.{name}.s"] += e["s"] * per_unit
                    m[f"group.{W.GROUP_OF[name]}.s"] += e["s"] * per_unit
                    spans = sorted(
                        iv for label, t in timed.items()
                        if label.startswith(f"{u['no']}|{name}|")
                        for iv in t.get("intervals", [])
                    )
                    outside_ms += (e["wall"][1] - e["wall"][0]) - eventlog.covered_ms(spans, *e["wall"])
                    if W.GROUP_OF[name] == "streams":
                        stream_s += e["s"]
            for name in W.BATCH_ENTRIES[self.workload]:
                m[f"entry.{name}.jobs"] = total("jobs", lambda lb, n=name: lb.split("|")[1] == n) * per_unit
        m["queries.build_jobs"] = total("jobs", lambda lb: lb.endswith("|build")) * per_unit
        m["queries.execute_jobs"] = total("jobs", lambda lb: lb.endswith("|execute")) * per_unit
        m["spark.outside_jobs_s"] = outside_ms / 1000.0 * per_unit
        progress = self.block_progress()
        m["streaming.batches"] = len(progress) * per_unit
        for phase in STREAM_PHASES:
            key = "trigger_ms" if phase == "triggerExecution" else f"{phase}_ms"
            m[f"streaming.{key}"] = sum(d.get(phase, 0) for _, d, _ in progress) * per_unit
        last_rows = {qid: rows for qid, _, rows in progress}
        m["streaming.state_rows"] = sum(last_rows.values()) * per_unit
        m["streaming.lifecycle_s"] = (
            stream_s * per_unit - m["streaming.trigger_ms"] / 1000.0 if stream_s else 0.0
        )
        self.write_spans()
        return m

    def write_spans(self) -> None:
        with open(os.path.join(self.log_dir, "spans.jsonl"), "w") as f:
            for name, start, stop, depth, thread in tracing.SPANS.closed:
                f.write(json.dumps({
                    "layer": name, "start": start, "end": stop, "depth": depth, "thread": thread,
                }) + "\n")


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--started", type=float, required=True)
    p.add_argument("--out", required=True)
    return p.parse_args(argv)


def main() -> None:
    args = parse_args()
    if args.trace:
        tracing.install()  # before the query registry is imported
    result = Run(args).main()
    with open(args.out, "w") as f:
        json.dump(result, f)
    sys.stdout.flush()
    sys.stderr.flush()
    # skip py4j and atexit teardown; the session is already stopped
    os._exit(0)


if __name__ == "__main__":
    main()
