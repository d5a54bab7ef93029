"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one measurement of one workload in a fresh child process
(``child.py``) at ``local[N]`` with N the CPUs this process may use,
with the repository root on ``PYTHONPATH`` so Python UDF workers can
import ``torua_spark`` from any working directory. The child's set-up,
counted from its process start, is ``setup_s``. Temporary files, Spark
local dirs, KV checkpoints and traces go to ``.perfbench_out/`` in the
repository root. While a child runs, this process samples the summed RSS of the
child's session (driver, JVM, Python workers).

Prints a diagnostics line (stamped with nproc, the local[N] width, the
seed, the 1-minute load at start and end and the CPU steal share) and, last, one JSON
result line: ``correct``, ``attempted``, ``failed`` and ``metrics``.
Exits non-zero without a result when the program or its data is
missing, the child fails, or the run exceeds its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402

TIME_LIMIT_S = 170.0
MB = 1024.0 * 1024.0


def session_pids(sid: int) -> list[int]:
    """Live processes of a session. The child leads its own session; the
    JVM and the PySpark daemon (which moves to a process group of its own)
    with its workers stay in it."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak of the summed RSS of a session's processes, sampled every 0.2 s."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.2):
            self.peak = max(self.peak, sum(rss_bytes(p) for p in session_pids(self.sid)))


def stop_session(sid: int) -> None:
    """Terminate every process left in the session and wait until all are gone."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while session_pids(sid) and time.time() < deadline:
            time.sleep(0.1)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "frac"
    if "rows" in name:
        return "rows"
    return "count"


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(args, deadline: float, tmp: str, out_dir: str):
    """Run child.py once; return (result, peak RSS in bytes)."""
    trace = args.trace
    result_path = os.path.join(tmp, "result.json")
    log_path = os.path.join(out_dir, f"{args.workload}-trace{trace}.log")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(x for x in (ROOT, env.get("PYTHONPATH")) if x)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_<user>
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [f'--driver-java-options "{jvm}"']
    if trace:
        log_dir = os.path.join(out_dir, f"trace-{args.workload}")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        env["PERFBENCH_EVENTLOG_DIR"] = log_dir
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--started", repr(time.time()), "--out", result_path,
    ]
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            rc = child.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop.set()
            sampler.join()
            stop_session(child.pid)
            child.wait()
    if rc is None:
        fail(f"run exceeded {TIME_LIMIT_S:.0f} s; log in {log_path}", 3)
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"child exited with {rc}; log in {log_path}", 1)
    with open(result_path) as f:
        return json.load(f), sampler.peak


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    started = time.time()
    # a terminated run still stops its child's session (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "torua_spark", "__init__.py")):
        fail(f"no torua_spark package under {ROOT}; run from a repository checkout", 2)
    if not os.path.isfile(os.path.join(W.DATA_DIR, "lineitem.parquet")):
        fail(f"benchmark data not found at {W.DATA_DIR}", 2)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(out_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    deadline = started + TIME_LIMIT_S
    try:
        res, peak = run_child(args, deadline, tmp, out_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    load_end = os.getloadavg()[0]
    cpu_delta = [b - a for a, b in zip(cpu_start, cpu_times())]

    setup = res["setup"]
    e2e = {"setup_s": (setup["setup_s"], "s", 1), **res["end_to_end"]}
    extra = {"peak_rss_mb": (peak / MB, "MB", 1), **res["extra"]}
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": res["cpus"], "local_width": f"local[{res['cpus']}]",
        "load_1m_start": load_start, "load_1m_end": load_end,
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_frac": cpu_delta[7] / max(1, sum(cpu_delta)),
        "wall_s": time.time() - started,
        "metrics": {
            k: {"value": v, "unit": u, "samples": n}
            for k, (v, u, n) in {**e2e, **extra}.items()
        },
        "setup": setup, "steps": res["steps"], "failures": res["failures"],
    }
    if args.trace:
        per_layer = {
            **res["per_layer"],
            "session.get_spark_s": setup["get_spark_s"],
            "setup.build_s": setup["build_s"],
        }
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps(diag), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()
