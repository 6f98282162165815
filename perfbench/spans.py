"""Span tracing for the traced (``--trace 1``) benchmark run.

Spans are recorded from the benchmark's own files: ``instrument`` wraps
public functions of the package's modules (and the stage-catalog
methods) for the duration of a run and ``restore`` puts the originals
back. The program itself is not changed.

Each span records its name, start, end, parent and phase
(``setup``/``timed``). Spans that may launch Spark work also set a Spark
job group of their own, so the jobs a span ran can be read back from
``statusTracker()`` when the run ends; byte counters come from the
driver's REST API (``{uiWebUrl}/api/v1/applications/<id>/stages``).
Spark is lazy, so a pipeline stage's work runs inside the
``write_stage`` call that commits it: that call is the stage's span,
labelled by layer and stage name. Two stages run eager driver work
while they build their frame, before ``write_stage``: ``link.run``
(surface_links) and ``similarity.ngram_jaccard_pairs`` (near_pairs).
Those calls are spanned under the same label, so the stage's time
covers both.

Spans stay in memory and are written out once, when the run ends.

Which end-to-end metric each layer's metrics should move, and where:

    layer         per-layer metrics                      moves            on
    session       session.build_s                        setup_s          all
    extract       extract.{parsed,mentions,raw_triples}_s docs_per_s      kg_curate
    link          link.surface_links_s                   docs_per_s       kg_curate
    canonicalize  canonicalize.cc_s/_calls, labels_s,    docs_per_s,      all (in a
                  surface_map_s, entities_s              batch_p50_s      batch, CC's
                                                                          fetch runs the
                                                                          candidate DAG)
    materialize   materialize.triples_s                  docs_per_s       kg_curate
    curate        curate.{scored,kept,exact_kept,        docs_per_s       kg_curate
                  curated}_s
    similarity    similarity.near_pairs_s                docs_per_s       kg_curate
                  similarity.probe_s/_calls              batch_p50_s,     stream_ingest
                  (prune_to_keys/_values/_prefixes)      success_rate
    streaming     streaming.batch_s (self), compact_s,   batch_p50_s,     stream_ingest
                  compactions, archive_parts             docs_per_s
    io_catalog    io_catalog.write_stage_calls/_s,       batch_p50_s      stream_ingest
                  read_calls, read_s (read_stage,
                  read_manifest, stage_committed)
    Spark/span    <span>.jobs, .tasks,                   jobs: batch_p50_s, kg_curate docs_per_s;
                  .shuffle_write_bytes, .spill_bytes     bytes: docs_per_s
    Spark/run     spark.failed_tasks, speculative_tasks, success_rate, outliers
                  gc_s, executor_cpu_s
    memory        memory.peak_rss_mb (JVM + Python        none (a figure   all
                  workers), jvm_peak_mb, python_peak_mb  of its own)

The per-layer split between JVM stage time and Python-kernel time
follows *Accelerating Python UDFs in Vectorized Query Execution* (CIDR
2022). A metric of a layer a workload does not call reads 0 there.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager

# pipeline and curation stage -> layer that computes it (the span label
# is "<layer>.<stage>"); every other stage write, the streaming batches'
# and compactions' included, is "io_catalog.write_stage"
PIPELINE_STAGE_LAYER = {
    "parsed": "extract",
    "mentions": "extract",
    "raw_triples": "extract",
    "surface_links": "link",
    "labels": "canonicalize",
    "surface_map": "canonicalize",
    "entities": "canonicalize",
    "triples": "materialize",
    "scored": "curate",
    "kept": "curate",
    "exact_kept": "curate",
    "near_pairs": "similarity",
    "curated": "curate",
}

# spans whose Spark jobs, tasks and bytes are reported per span
SPARK_SPANS = [f"{layer}.{stage}" for stage, layer in PIPELINE_STAGE_LAYER.items()] + [
    "canonicalize.cc",
    "similarity.probe",
    "streaming.batch",
    "streaming.compact",
    "io_catalog.write_stage",
]
SPARK_SPAN_COUNTERS = [
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
]

# (metric, unit): every per-layer metric a traced run reports
LAYER_METRICS = (
    [
        ("session.build_s", "s"),
        ("extract.parsed_s", "s"),
        ("extract.mentions_s", "s"),
        ("extract.raw_triples_s", "s"),
        ("link.surface_links_s", "s"),
        ("canonicalize.cc_s", "s"),
        ("canonicalize.cc_calls", "count"),
        ("canonicalize.labels_s", "s"),
        ("canonicalize.surface_map_s", "s"),
        ("canonicalize.entities_s", "s"),
        ("materialize.triples_s", "s"),
        ("curate.scored_s", "s"),
        ("curate.kept_s", "s"),
        ("curate.exact_kept_s", "s"),
        ("curate.curated_s", "s"),
        ("similarity.near_pairs_s", "s"),
        ("similarity.probe_s", "s"),
        ("similarity.probe_calls", "count"),
        ("streaming.batch_s", "s"),
        ("streaming.compact_s", "s"),
        ("streaming.compactions", "count"),
        ("streaming.archive_parts", "count"),
        ("io_catalog.write_stage_calls", "count"),
        ("io_catalog.write_stage_s", "s"),
        ("io_catalog.read_calls", "count"),
        ("io_catalog.read_s", "s"),
    ]
    + [(f"{s}.{c}", u) for s in SPARK_SPANS for c, u in SPARK_SPAN_COUNTERS]
    + [
        ("spark.failed_tasks", "count"),
        ("spark.speculative_tasks", "count"),
        ("spark.gc_s", "s"),
        ("spark.executor_cpu_s", "s"),
        # sampled by worker.RssPeak, not from spans
        ("memory.peak_rss_mb", "MB"),
        ("memory.jvm_peak_mb", "MB"),
        ("memory.python_peak_mb", "MB"),
    ]
)


class Tracer:
    """In-memory span recorder. ``sc`` is attached once the session
    exists; spans opened before that (the session build) are timed but
    set no job group."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.phase = "setup"
        self.sc = None
        self.archive_parts_max = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, spark_group: bool = True):
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "phase": self.phase,
            "start": time.perf_counter(),
            "end": None,
            "group": None,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        if spark_group and self.sc is not None:
            rec["group"] = f"bench-span-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if rec["group"] is not None:
                # hand the thread's job group back to the enclosing span
                outer = next((s for s in reversed(self.stack) if s["group"]), None)
                if outer is not None:
                    self.sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    # -- instrumentation -------------------------------------------------
    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))

    def _spanned(self, name: str, spark_group: bool = True):
        def factory(orig):
            def wrapper(*args, **kwargs):
                with self.span(name, spark_group):
                    return orig(*args, **kwargs)

            return wrapper

        return factory

    def instrument(self) -> None:
        """Wrap the package's public entry points for this process."""
        from canonicity_spark import canonicalize, link, session, similarity, streaming
        from canonicity_spark.io_catalog import StageCatalog

        self._patch(session, "build", self._spanned("session.build", False))
        self._patch(canonicalize, "connected_components", self._spanned("canonicalize.cc"))
        self._patch(link, "run", self._spanned("link.surface_links"))
        self._patch(
            similarity, "ngram_jaccard_pairs", self._spanned("similarity.near_pairs")
        )
        for fn in ("prune_to_keys", "prune_to_values", "prune_to_prefixes"):
            self._patch(similarity, fn, self._spanned("similarity.probe"))
        self._patch(streaming, "process_batch", self._spanned("streaming.batch"))

        def compact_archive(orig):
            def wrapper(*args, **kwargs):
                with self.span("streaming.compact") as rec:
                    summary = orig(*args, **kwargs)
                    rec["compacted"] = summary is not None
                    return summary

            return wrapper

        self._patch(streaming, "compact_archive", compact_archive)
        for fn in ("read_stage", "read_manifest", "stage_committed"):
            self._patch(StageCatalog, fn, self._spanned("io_catalog.read", False))

        def write_stage(orig):
            def wrapper(cat, df, name, *args, **kwargs):
                layer = PIPELINE_STAGE_LAYER.get(name)
                label = f"{layer}.{name}" if layer else "io_catalog.write_stage"
                with self.span(label) as rec:
                    rec["write_stage"] = True
                    return orig(cat, df, name, *args, **kwargs)

            return wrapper

        self._patch(StageCatalog, "write_stage", write_stage)

        def archive_parts(orig):
            def wrapper(*args, **kwargs):
                bases, live = orig(*args, **kwargs)
                if self.phase == "timed":
                    self.archive_parts_max = max(
                        self.archive_parts_max, len(bases) + len(live)
                    )
                return bases, live

            return wrapper

        self._patch(streaming, "archive_parts", archive_parts)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- aggregation -----------------------------------------------------
    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def _outermost(self, name: str, phase: str | None = "timed") -> list[dict]:
        """Spans of ``name`` with no ancestor of the same name (so nested
        calls of one function are not counted twice)."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name or (phase and s["phase"] != phase):
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def wall(self, name: str, phase: str | None = "timed") -> float:
        return sum(s["end"] - s["start"] for s in self._outermost(name, phase))

    def calls(self, name: str, phase: str | None = "timed") -> int:
        return sum(
            1 for s in self.spans if s["name"] == name and (not phase or s["phase"] == phase)
        )

    def self_time(self, name: str) -> float:
        """Duration of ``name``'s spans minus the part their direct
        children cover (children never overlap: one driver thread)."""
        kids = self._children()
        total = 0.0
        for s in self._outermost(name):
            covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            total += (s["end"] - s["start"]) - covered
        return total

    def _descendant_groups(self, root: dict, kids: dict[int, list[dict]]) -> set[str]:
        groups, todo = set(), [root]
        while todo:
            s = todo.pop()
            if s["group"]:
                groups.add(s["group"])
            todo.extend(kids.get(s["id"], []))
        return groups

    def spark_metrics(self, sc) -> dict[str, float]:
        """Per-span and per-run Spark counters over the timed phase.

        Jobs per span come from ``statusTracker().getJobIdsForGroup`` over
        the span's own group and its descendants' groups; tasks from
        ``getStageInfo`` (completed + failed tasks, so skipped stages
        count zero); shuffle-write, spill, GC and CPU from the REST
        stage list, summed over stage attempts."""
        st = sc.statusTracker()
        kids = self._children()
        jobs_of_group: dict[str, list[int]] = {}
        for s in self.spans:
            if s["group"] and s["phase"] == "timed":
                jobs_of_group[s["group"]] = list(st.getJobIdsForGroup(s["group"]))
        stages_of_job: dict[int, list[int]] = {}
        for jobs in jobs_of_group.values():
            for j in jobs:
                info = st.getJobInfo(j)
                stages_of_job[j] = list(info.stageIds) if info else []
        tasks_of_stage: dict[int, int] = {}
        for stages in stages_of_job.values():
            for sid in stages:
                if sid not in tasks_of_stage:
                    info = st.getStageInfo(sid)
                    tasks_of_stage[sid] = (
                        info.numCompletedTasks + info.numFailedTasks if info else 0
                    )
        rest = rest_stages(sc)

        def stage_sum(stages: set[int], key) -> float:
            return sum(key(a) for sid in stages for a in rest.get(sid, []))

        out: dict[str, float] = {}
        for name in SPARK_SPANS:
            jobs: set[int] = set()
            for s in self._outermost(name):
                for g in self._descendant_groups(s, kids):
                    jobs.update(jobs_of_group.get(g, []))
            stages = {sid for j in jobs for sid in stages_of_job.get(j, [])}
            out[f"{name}.jobs"] = len(jobs)
            out[f"{name}.tasks"] = sum(tasks_of_stage[sid] for sid in stages)
            out[f"{name}.shuffle_write_bytes"] = stage_sum(
                stages, lambda a: a.get("shuffleWriteBytes", 0)
            )
            out[f"{name}.spill_bytes"] = stage_sum(
                stages,
                lambda a: a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0),
            )
        timed = {sid for jobs in jobs_of_group.values() for j in jobs
                 for sid in stages_of_job.get(j, [])}
        out["spark.failed_tasks"] = stage_sum(timed, lambda a: a.get("numFailedTasks", 0))
        out["spark.speculative_tasks"] = stage_sum(timed, speculative_tasks)
        out["spark.gc_s"] = stage_sum(timed, lambda a: a.get("jvmGcTime", 0)) / 1e3
        out["spark.executor_cpu_s"] = (
            stage_sum(timed, lambda a: a.get("executorCpuTime", 0)) / 1e9
        )
        return out

    def layer_metrics(self, sc) -> dict[str, float]:
        m = {
            "session.build_s": self.wall("session.build", phase=None),
            "canonicalize.cc_s": self.wall("canonicalize.cc"),
            "canonicalize.cc_calls": self.calls("canonicalize.cc"),
            "similarity.probe_s": self.wall("similarity.probe"),
            "similarity.probe_calls": len(self._outermost("similarity.probe")),
            "streaming.batch_s": self.self_time("streaming.batch"),
            "streaming.compact_s": self.wall("streaming.compact"),
            "streaming.compactions": sum(
                1 for s in self._outermost("streaming.compact") if s.get("compacted")
            ),
            "streaming.archive_parts": self.archive_parts_max,
            "io_catalog.write_stage_calls": sum(
                1 for s in self.spans if s.get("write_stage") and s["phase"] == "timed"
            ),
            "io_catalog.write_stage_s": self.wall("io_catalog.write_stage"),
            "io_catalog.read_calls": self.calls("io_catalog.read"),
            "io_catalog.read_s": self.wall("io_catalog.read"),
        }
        for stage, layer in PIPELINE_STAGE_LAYER.items():
            m[f"{layer}.{stage}_s"] = self.wall(f"{layer}.{stage}")
        m.update(self.spark_metrics(sc))
        return m


def speculative_tasks(stage_attempt: dict) -> int:
    """Speculated tasks of a stage attempt. The stage list carries no
    speculation summary, but every speculated task ends with one of its
    two attempts killed as "another attempt succeeded"."""
    killed = stage_attempt.get("killedTasksSummary") or {}
    return sum(n for reason, n in killed.items() if "another attempt succeeded" in reason)


def rest_stages(sc) -> dict[int, list[dict]]:
    """stageId -> the REST API's stage attempts (local mode serves it
    from the driver's UI port)."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as resp:
        data = json.load(resp)
    out: dict[int, list[dict]] = {}
    for a in data:
        out.setdefault(a["stageId"], []).append(a)
    return out
