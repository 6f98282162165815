"""One measured run, in a process of its own (started by ``run.py``).

Usage: worker.py WORKLOAD SEED SECONDS TRACE MASTER SCRATCH

Order: make inputs from the seed, prewarm the inputs and the Spark
runtime, then time the set-up (session build, input load, untimed
warm-up), then the timed operations, then the output checks. Writes one
JSON object to SCRATCH/result.json for ``run.py``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import workloads  # noqa: E402
from spans import LAYER_METRICS, Tracer, rest_stages, speculative_tasks  # noqa: E402


def runtime_paths() -> list[str]:
    """The Spark runtime's files: the JVM's jars (SPARK_HOME's when set,
    else pyspark's bundled ones) and pyspark's Python modules."""
    import pyspark

    py = os.path.dirname(os.path.abspath(pyspark.__file__))
    home = os.environ.get("SPARK_HOME")
    return [os.path.join(home or py, "jars"), os.path.join(py, "sql"),
            os.path.join(py, "pandas")] + glob.glob(os.path.join(py, "*.py"))


def prewarm(paths: list[str]) -> None:
    """Read every file once so the run starts with inputs and runtime in
    the page cache (the host's cache is shared, so it is not dropped)."""
    files = [p for p in paths if os.path.isfile(p)]
    for p in paths:
        files += [os.path.join(r, n) for r, _d, ns in os.walk(p) for n in ns]
    for name in files:
        with open(name, "rb") as fh:
            while fh.read(1 << 24):
                pass


class RssPeak(threading.Thread):
    """Peak resident memory of the driver JVM plus the Python workers it
    forks (descendants of this process whose command line names Spark's
    submit class or pyspark; short-lived helpers a JVM forks would
    otherwise count its whole heap again).

    Polled: each sample sums the processes' proportional set size
    (``Pss`` in /proc/pid/smaps_rollup), so pages a forked pyspark
    worker still shares copy-on-write with its daemon count once across
    them, not once per process. The peak is the largest sample. The
    heap is not pre-committed, so the JVM's share follows what the
    program allocates.

    A per-layer figure, not an end-to-end one: the JVM's share is G1's
    committed heap plus ~580 MB, and G1 sizes that heap from measured GC
    time, so identical inputs left it at 0.9-2.1 GB; the peak's
    IQR/median over ten seeds was 0.17 (kg_curate) and 0.19
    (stream_ingest), too wide to hold a regression bound of 0.25."""

    MARKERS = (b"org.apache.spark.deploy.SparkSubmit", b"pyspark")

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.part_peak_kb = {"jvm": 0, "python": 0}
        self.halt = threading.Event()

    def _descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            out.extend(kids)
            todo.extend(kids)
        return out

    def sample(self) -> None:
        part = {"jvm": 0, "python": 0}
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if not any(m in cmd for m in self.MARKERS):
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    part["jvm" if self.MARKERS[0] in cmd else "python"] += next(
                        (int(line.split()[1]) for line in f if line.startswith("Pss:")), 0
                    )
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, sum(part.values()))
        for k, v in part.items():
            self.part_peak_kb[k] = max(self.part_peak_kb[k], v)

    def run(self) -> None:
        while not self.halt.wait(0.5):
            self.sample()

    def metrics(self) -> dict[str, float]:
        self.sample()
        return {
            "memory.peak_rss_mb": self.peak_kb / 1024,
            "memory.jvm_peak_mb": self.part_peak_kb["jvm"] / 1024,
            "memory.python_peak_mb": self.part_peak_kb["python"] / 1024,
        }


def p50(ops: list[workloads.Op]) -> float:
    """Nearest-rank median operation latency; failed or wrong operations
    rank slowest (their own wall is kept as the value)."""
    ranked = sorted(ops, key=lambda o: (not (o.ok and o.correct), o.wall))
    return ranked[math.ceil(len(ranked) / 2) - 1].wall


def main() -> None:
    name, seed, seconds, trace, master, scratch = sys.argv[1:7]
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    wl = workloads.WORKLOADS[name](scratch, seed)
    t_inputs = time.perf_counter()
    wl_inputs = wl.make_inputs()
    t_prewarm = time.perf_counter()
    prewarm(wl_inputs + runtime_paths())

    from canonicity_spark import session

    tracer = Tracer()
    if trace:
        tracer.instrument()
    rss = RssPeak()
    rss.start()
    t0 = time.perf_counter()
    spark = session.build(
        app_name=f"perfbench-{name}",
        master=master,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    tracer.sc = sc
    wl.setup(spark)
    setup_s = time.perf_counter() - t0

    tracer.phase = "timed"
    with tracer.span("op-window", spark_group=trace):
        ops = wl.run(spark, seconds)
    tracer.phase = "check"
    tracer.restore()
    rss.halt.set()
    rss.join()  # the last sample below must not race the poller's
    memory = rss.metrics()

    t_check = time.perf_counter()
    precision, recall = wl.quality(ops)
    committed = [o for o in ops if o.ok]
    # throughput of the operations that committed a correct result. A
    # failed operation's documents and wall are both left out: where the
    # stream's catch-up batch fails is random (3 s or 30 s in, see
    # workloads.StreamIngest), and its failure is counted by
    # success_rate instead
    done = [o for o in committed if o.correct]
    done_wall = sum(o.wall for o in done)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (sum(o.docs for o in done) / done_wall if done else 0.0, "docs/s"),
        "batch_p50_s": (p50(ops), "s"),
        "precision": (precision, "ratio"),
        "recall": (recall, "ratio"),
        "success_rate": (sum(o.correct for o in committed) / len(ops), "ratio"),
    }
    t_stages = time.perf_counter()
    stages = rest_stages(sc)
    attempts = [a for v in stages.values() for a in v]
    result = {
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "inputs": wl.input_stats,
        "memory_mb": memory,
        # where the run's wall went outside the metrics
        "phase_walls_s": {
            "make_inputs": t_prewarm - t_inputs,
            "prewarm": t0 - t_prewarm,
            "output_check": t_stages - t_check,
            "stage_list": time.perf_counter() - t_stages,
        },
        "attempted": len(ops),
        "failed": sum(not (o.ok and o.correct) for o in ops),
        "correct": all(o.correct for o in committed) and bool(committed),
        "ops": [
            {"kind": o.kind, "wall_s": round(o.wall, 3), "parts_s": o.parts,
             "docs": o.docs, "ok": o.ok,
             "correct": o.correct, "error": o.error}
            for o in ops
        ],
        "spark": {
            "failed_tasks": sum(a.get("numFailedTasks", 0) for a in attempts),
            "speculative_tasks": sum(speculative_tasks(a) for a in attempts),
        },
    }
    if trace:
        layers = tracer.layer_metrics(sc) | memory
        units = dict(LAYER_METRICS)
        result["per_layer"] = {k: {"value": layers[k], "unit": units[k]} for k in units}
        tracer.dump(os.path.join(scratch, "spans.json"))
    with open(os.path.join(scratch, "result.json"), "w") as f:
        json.dump(result, f)
    # run.py stops the JVM and the Python workers with the whole process
    # session; a clean spark.stop() would only add shutdown time
    os._exit(0)


if __name__ == "__main__":
    main()
