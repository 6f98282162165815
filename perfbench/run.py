"""Benchmark entry point: one named workload, one seed, one fresh process.

    python3 perfbench/run.py --workload kg_curate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The measured run happens in a child
process (``worker.py``) in a session of its own, so this process can
time it out and stop everything it started (the driver JVM and its
Python workers) before it exits. Around the child it records load
diagnostics: a fixed CPU control before and after, the CPU steal share
from /proc/stat, failed and speculative Spark tasks and reaped Python
workers. These are printed on a line of their own and are not metrics.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run also prints its
tracing overhead: its own end-to-end metrics minus those of the last
untraced run of the same workload and seed, when one is on record.
Exits 1 when an output check fails, 2 when the checkout holds no
program to measure.

Deployment (recorded in BENCHMARK.json's command, so both commits of a
comparison use the same): ``--master`` (executor threads, capped at
nproc), ``--driver-memory`` and ``--scratch``, the directory inside the
checkout that takes inputs, stage work dirs, Spark's local dir and the
JVM's temp dir.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg_curate", "stream_ingest")
RUN_LIMIT_S = 170  # the whole run, this process included, ends within 180 s
REAP_LINE = "Terminating Python worker process due to idle timeout"


def cpu_control() -> float:
    """Fixed single-thread numpy hashing: only host CPU contention moves
    it (no Spark, no IO)."""
    t0 = time.perf_counter()
    x = np.random.RandomState(0).randint(0, 1 << 62, size=2_000_000, dtype=np.int64)
    for _ in range(20):
        x = x * np.int64(6364136223846793005) + np.int64(1442695040888963407)
        x ^= x >> np.int64(17)
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def capped_master(master: str) -> str:
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if not m:
        return master
    return f"local[{min(int(m.group(1)), os.cpu_count() or 1)}]"


def session_pids(sid: int) -> list[int]:
    """Live processes of the child's session (field 6 of /proc/pid/stat)."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(d))
    return out


def stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever the child left running and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while session_pids(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-memory", default="4g")
    ap.add_argument("--scratch", default=".bench_out")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "canonicity_spark", "__init__.py")):
        print(f"no canonicity_spark package under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2

    t_start = time.monotonic()
    scratch = os.path.join(ROOT, args.scratch)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(scratch, f"{tag}-{os.getpid()}")
    keep_dir = os.path.join(scratch, "last")
    for d in (run_dir, os.path.join(run_dir, "tmp"), keep_dir):
        os.makedirs(d, exist_ok=True)
    master = capped_master(args.master)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_DRIVER_MEM=args.driver_memory,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
    )
    env.setdefault("PYSPARK_PYTHON", sys.executable)

    control_before = cpu_control()
    stat_before = cpu_times()
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
             str(args.seed), str(args.seconds), str(args.trace), master, run_dir],
            stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_session(proc)
    stat_after = cpu_times()
    control_after = cpu_control()

    with open(log_path) as f:
        log_text = f.read()
    shutil.copy(log_path, os.path.join(keep_dir, f"{tag}.log"))
    spans = os.path.join(run_dir, "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(keep_dir, f"{tag}.spans.json"))
    result_path = os.path.join(run_dir, "result.json")
    res = None
    if proc.returncode == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        tail = "\n".join(log_text.splitlines()[-20:])
        print(f"run failed (exit {proc.returncode}); log tail:\n{tail}", file=sys.stderr)
        return 1

    delta = [a - b for a, b in zip(stat_after, stat_before)]
    print(json.dumps({"diagnostics": {
        "master": master,
        "driver_memory": args.driver_memory,
        "cpu_control_s": {"before": control_before, "after": control_after,
                          "drift": control_after / control_before},
        "cpu_steal_share": delta[7] / max(sum(delta[:8]), 1),
        "failed_tasks": res["spark"]["failed_tasks"],
        "speculative_tasks": res["spark"]["speculative_tasks"],
        "reaped_python_workers": log_text.count(REAP_LINE),
        "inputs": res["inputs"],
        "phase_walls_s": res["phase_walls_s"],
        "memory_mb": res["memory_mb"],
        "run_wall_s": time.monotonic() - t_start,
        "ops": res["ops"],
    }}), flush=True)

    record = os.path.join(keep_dir, f"{args.workload}-s{args.seed}.t{args.trace}.json")
    with open(record, "w") as f:
        json.dump(res["end_to_end"], f)
    if args.trace:
        untraced = os.path.join(keep_dir, f"{args.workload}-s{args.seed}.t0.json")
        overhead = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            overhead = {k: v["value"] - base[k]["value"] for k, v in res["end_to_end"].items()}
        print(json.dumps({"tracing_overhead": overhead,
                          "traced_end_to_end": res["end_to_end"]}), flush=True)

    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
