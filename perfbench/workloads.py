"""The benchmark's workloads. Each one makes its inputs from the seed,
sets up (untimed warm-up included), runs its timed operations in a
closed loop with one client, and checks every committed operation's
output against a pure-Python reference (``reference.py``).

- ``kg_curate``: the two batch pipelines over one seeded corpus, one
  pass of each per round -- ``pipeline.run`` (KG build: extract, link,
  canonicalize, materialize) and ``curate.run`` over the same documents'
  flattened text (dedup curation: score, gate, exact dedup, ``similarity``
  near-dup pairs, CC over the pair graph).
- ``stream_ingest``: closed-loop micro-batches through
  ``streaming.process_batch`` against a seeded archive.

An operation is one ``kg_curate`` round (a pass of each pipeline) or
one micro-batch. An operation that raises is failed; one that commits a wrong result is failed too, and
makes the run incorrect.

Both draw their documents from the seeded fixture grammar
(``fixtures.generate``). Curation and ingest read each document
flattened to the (doc_id, text) shape they ingest, the text spans joined
by one space (as ``bench.py`` flattens its curate corpus). Nothing is
injected into that text: the grammar's own duplicate share is what the
dedup paths see, and each run reports it with its inputs
(``input_stats``). Measured at 100 entities on 18 seeds over 1k-4k
documents, about 96 % of documents pass the ingest gate, at most 0.21 %
of those are an exact duplicate (normalized-text md5) of another and
none is a near-duplicate (exact 5-gram jaccard >= 0.9), so the dedup
paths do their candidate work and drop next to nothing.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import reference

# fixtures.generate's entity-pool construction is quadratic in the pool
# size (~6 s at its default of 200 per run); 100 entities keep input
# generation near 2 s while the grammar stays the same
N_ENTITIES = 100

# a pass is correct when triple precision and recall against the fixture
# goldens both reach the graded bar; the metrics report the exact values
# (seeded corpora that hold the misspelling "sotal corp" of "sortal corp"
# miss its links, P/R ~0.999, while the default corpus scores 1.0)
TRIPLE_PR_BAR = 0.95
# the same bar for the share of a batch's survivors with no near-duplicate
NEAR_DUP_PRECISION_BAR = 0.95


def generate(gen_dir: str, n_docs: int, seed: int) -> None:
    from canonicity_spark import fixtures

    fixtures.generate(gen_dir, n_docs=n_docs, n_entities=N_ENTITIES, seed=seed)


def flatten(gen_dir: str) -> tuple[list[str], dict[str, str]]:
    """The generated documents, each flattened to its text spans joined
    by one space: (doc ids in order, doc_id -> text)."""
    rows = pq.read_table(os.path.join(gen_dir, "documents.parquet")).to_pylist()
    text = {
        r["doc_id"]: " ".join(s["text"] for s in r["spans"] if s["kind"] == "text")
        for r in rows
    }
    return [r["doc_id"] for r in rows], text


def dedup_stats(ids: list[str], text: dict[str, str]) -> dict:
    """The share of gate-passing documents that are an exact duplicate
    of an earlier one: the duplicate traffic the inputs carry."""
    gated = [i for i in ids if reference.passes_gate(text[i])]
    distinct = len({reference.fingerprint(text[i]) for i in gated})
    return {
        "docs": len(ids),
        "gated": len(gated),
        "exact_dup_share": 1 - distinct / len(gated) if gated else 0.0,
    }


def write_docs(path: str, ids: list[str], text: dict[str, str]) -> None:
    pq.write_table(pa.table({"doc_id": ids, "text": [text[i] for i in ids]}), path)


@dataclass
class Op:
    kind: str  # "kg" or "curate" pass, a "round" of both, or a micro-batch's name
    wall: float
    docs: int
    ok: bool  # committed without raising
    correct: bool = True
    error: str | None = None
    precision: float | None = None
    recall: float | None = None
    parts: dict[str, float] | None = None  # wall of each pass in a round


def _timed(fn) -> tuple[float, object, str | None]:
    t0 = time.perf_counter()
    try:
        out, err = fn(), None
    except Exception as e:  # a failed operation is a measured outcome
        out, err = None, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    return time.perf_counter() - t0, out, err


class KgPass:
    """One ``pipeline.run`` pass over the interleaved fixture corpus,
    from an empty work dir, checked against the fixture goldens."""

    def __init__(self, scratch: str) -> None:
        self.scratch = scratch
        self.passes = 0

    def make_inputs(self, gen_dir: str, n_warm: int) -> None:
        self.inputs = gen_dir
        docs = pq.read_table(os.path.join(gen_dir, "documents.parquet"))
        self.n_docs = docs.num_rows
        pq.write_table(docs.slice(0, n_warm), os.path.join(gen_dir, "warm_kg.parquet"))
        gold = pq.read_table(os.path.join(gen_dir, "golden_triples.parquet"))
        self.gold = set(
            zip(*(gold.column(c).to_pylist() for c in ("subj", "pred", "obj")))
        )

    def _pass(self, spark, docs):
        from canonicity_spark import pipeline

        self.passes += 1
        conf = pipeline.PipelineConf(
            work_dir=os.path.join(self.scratch, f"kg_work_{self.passes}")
        )
        return lambda: pipeline.run(spark, docs, self.alias, conf), conf.work_dir

    def setup(self, spark) -> None:
        path = lambda *p: os.path.join(self.inputs, *p)  # noqa: E731
        self.docs = spark.read.parquet(path("documents.parquet"))
        self.alias = spark.read.parquet(path("alias_dict.parquet"))
        warm, wd = self._pass(spark, spark.read.parquet(path("warm_kg.parquet")))
        warm()
        shutil.rmtree(wd, ignore_errors=True)

    def run_pass(self, spark) -> Op:
        fn, wd = self._pass(spark, self.docs)
        wall, triples, err = _timed(fn)
        op = Op("kg", wall, self.n_docs, ok=err is None, error=err)
        if op.ok:  # untimed output check
            got = {(r.subj, r.pred, r.obj) for r in triples.collect()}
            op.precision, op.recall = reference.precision_recall(got, self.gold)
            op.correct = min(op.precision, op.recall) >= TRIPLE_PR_BAR
        shutil.rmtree(wd, ignore_errors=True)
        return op


class CuratePass:
    """One ``curate.run`` pass over the flattened corpus, from an empty
    work dir.

    Checked against the reference: the survivors are gate-passing
    exact-dedup winners (min doc_id per normalized-text md5), and every
    such document the pass dropped has a survivor whose exact 5-gram
    jaccard with it reaches the threshold."""

    def __init__(self, scratch: str) -> None:
        self.scratch = scratch
        self.passes = 0

    def make_inputs(self, gen_dir: str, n_warm: int) -> dict:
        from canonicity_spark import curate

        ids, text = flatten(gen_dir)
        self.n_docs = len(ids)
        self.path = os.path.join(gen_dir, "flat.parquet")
        self.warm_path = os.path.join(gen_dir, "warm_flat.parquet")
        write_docs(self.path, ids, text)
        write_docs(self.warm_path, ids[:n_warm], text)
        threshold = curate.CurationConf(work_dir="").near_dup_threshold
        winners: dict[str, str] = {}
        for i in ids:
            if reference.passes_gate(text[i]):
                fp = reference.fingerprint(text[i])
                winners[fp] = min(winners.get(fp, i), i)
        self.keep = set(winners.values())
        pairs = reference.near_pairs(
            {i: reference.shingles(text[i]) for i in self.keep}, threshold
        )
        self.near: dict[str, set[str]] = {i: set() for i in self.keep}
        for a, b in pairs:
            self.near[a].add(b)
            self.near[b].add(a)
        return dict(dedup_stats(ids, text), near_dup_pairs=len(pairs))

    def _pass(self, spark, path: str):
        from canonicity_spark import curate

        self.passes += 1
        conf = curate.CurationConf(
            work_dir=os.path.join(self.scratch, f"curate_work_{self.passes}"), resume=False
        )
        docs = spark.read.parquet(path)
        return lambda: curate.run(spark, docs, conf), conf.work_dir

    def setup(self, spark) -> None:
        warm, wd = self._pass(spark, self.warm_path)
        warm()
        shutil.rmtree(wd, ignore_errors=True)

    def run_pass(self, spark) -> Op:
        fn, wd = self._pass(spark, self.path)
        wall, curated, err = _timed(fn)
        op = Op("curate", wall, self.n_docs, ok=err is None, error=err)
        if op.ok:  # untimed output check
            self._check(op, {r.doc_id for r in curated.select("doc_id").collect()})
        shutil.rmtree(wd, ignore_errors=True)
        return op

    def _check(self, op: Op, survivors: set[str]) -> None:
        """precision: share of survivors that are reference winners and
        near-duplicates of no other survivor; recall: share of reference
        winners that survived or were dropped next to a survivor at or
        above the threshold."""
        good = [i for i in survivors if i in self.keep and not self.near[i] & survivors]
        found = [i for i in self.keep if i in survivors or self.near[i] & survivors]
        op.precision = len(good) / len(survivors) if survivors else 0.0
        op.recall = len(found) / len(self.keep) if self.keep else 0.0
        op.correct = (
            survivors <= self.keep
            and len(found) == len(self.keep)
            and op.precision >= NEAR_DUP_PRECISION_BAR
        )


class KgCurate:
    """The two batch pipelines over one seeded corpus: per round, one
    KG-build pass (``pipeline.run``) and then one curation pass
    (``curate.run``) over the same documents' flattened text, each from
    an empty work dir. A round is one operation: its wall is the sum of
    the two passes', and it fails if either pass fails. Set-up warms
    both on the corpus's first ``N_WARM`` documents.

    One workload rather than two because every run starts a fresh
    Spark application: each pays ~7 s of session build and ~20 s of cold
    first pass, and two runs of that next to the stream's 60-100 s would
    not fit 22 runs of each workload in 57 minutes. Each pass's wall
    stays in the run's diagnostics, and the traced run splits them by
    layer."""

    N_DOCS = 1000
    N_WARM = 100

    def __init__(self, scratch: str, seed: int) -> None:
        self.seed = seed
        self.gen = os.path.join(scratch, "inputs", "fixture")
        self.kg = KgPass(scratch)
        self.curate = CuratePass(scratch)

    def make_inputs(self) -> list[str]:
        generate(self.gen, self.N_DOCS, self.seed)
        self.kg.make_inputs(self.gen, self.N_WARM)
        self.input_stats = self.curate.make_inputs(self.gen, self.N_WARM)
        self.input_stats["gold_triples"] = len(self.kg.gold)
        return [self.gen]

    def setup(self, spark) -> None:
        self.kg.setup(spark)
        self.curate.setup(spark)

    def run(self, spark, seconds: float) -> list[Op]:
        ops: list[Op] = []
        while not ops or sum(o.wall for o in ops) < seconds:
            parts = [self.kg.run_pass(spark), self.curate.run_pass(spark)]
            ops.append(Op(
                "round",
                sum(p.wall for p in parts),
                self.N_DOCS,
                ok=all(p.ok for p in parts),
                correct=all(p.correct for p in parts),
                error="; ".join(p.error for p in parts if p.error) or None,
                precision=min((p.precision for p in parts if p.ok), default=None),
                recall=min((p.recall for p in parts if p.ok), default=None),
                parts={p.kind: p.wall for p in parts},
            ))
        return ops

    def quality(self, ops: list[Op]) -> tuple[float, float]:
        """The lowest precision and recall of the committed rounds."""
        done = [o for o in ops if o.ok]
        if not done:
            return 0.0, 0.0
        return min(o.precision for o in done), min(o.recall for o in done)


class StreamIngest:
    """Closed-loop micro-batch ingest through ``streaming.process_batch``
    with the compaction cadence on. Set-up seeds the archive with one
    larger first batch (an empty archive takes no probe path); the timed
    sequence is small batches for ``--seconds`` and then one catch-up
    batch at the ingest contract's design size (~1k docs, the size the
    ``MAX_PROBE_VALUES`` comment in ``similarity.py`` names).

    The catch-up batch fails with the engine as it stands:
    ``session.py`` sets ``spark.sql.parquet.pushdown.inFilterThreshold``
    to 70000, so Spark pushes the archive probe's ``isin`` of up to
    ``MAX_PROBE_VALUES`` (65536) values into the parquet scan as one
    chain of OR-ed equalities, which overflows the executor stack
    (``java.lang.StackOverflowError``) at ~2,000 values (1,000 pass;
    with the threshold at 10, 2,000 and 16,000 both pass). Near 1,000
    values the overflow is not certain, so the catch-up batch fails
    either early, at its fingerprint probe (one value per gate-passing
    document), or later, at its ~10k-value band probe, so its wall is
    either ~3 s or ~25-40 s (which is why ``docs_per_s`` leaves a failed
    operation's wall out). It is counted as a failed operation, not
    resized away, and it runs last because the JVM has died on a later
    batch after an overflow.
    """

    SEED_DOCS = 300
    SMALL_DOCS = 50
    MAX_SMALL = 6
    CATCHUP_DOCS = 1000
    # the cadence is on, but a small batch takes longer than a short
    # timed window, so compaction fires only once batches get faster
    # (seed + 3 small batches reach it)
    COMPACT_EVERY = 4

    def __init__(self, scratch: str, seed: int) -> None:
        self.scratch = scratch
        self.seed = seed
        self.inputs = os.path.join(scratch, "inputs")
        self.work = os.path.join(scratch, "archive")

    def make_inputs(self) -> list[str]:
        n = self.SEED_DOCS + self.MAX_SMALL * self.SMALL_DOCS + self.CATCHUP_DOCS
        gen = os.path.join(self.inputs, "fixture")
        generate(gen, n, self.seed)
        ids, self.text = flatten(gen)
        sizes = (
            [("seed", self.SEED_DOCS)]
            + [(f"small_{i}", self.SMALL_DOCS) for i in range(self.MAX_SMALL)]
            + [("catchup", self.CATCHUP_DOCS)]
        )
        self.batches: dict[str, list[str]] = {}
        start = 0
        for name, size in sizes:
            self.batches[name] = ids[start : start + size]
            start += size
            write_docs(os.path.join(self.inputs, f"{name}.parquet"), self.batches[name], self.text)
        self.input_stats = dedup_stats(ids, self.text)
        return [self.inputs]

    def _batch(self, spark, name: str, batch_id: int):
        from canonicity_spark import streaming

        path = os.path.join(self.inputs, f"{name}.parquet")
        return lambda: streaming.process_batch(
            spark, spark.read.parquet(path), batch_id, self.conf
        )

    def setup(self, spark) -> None:
        from canonicity_spark import streaming

        self.conf = streaming.StreamConf(
            work_dir=self.work, compact_every=self.COMPACT_EVERY
        )
        self._batch(spark, "seed", 0)()

    def run(self, spark, seconds: float) -> list[Op]:
        ops: list[Op] = []
        self.op_batches: list[str] = []
        names = [f"small_{i}" for i in range(self.MAX_SMALL)]
        while names and (not ops or sum(o.wall for o in ops) < seconds):
            ops.append(self._run_batch(spark, names.pop(0), len(ops) + 1))
        ops.append(self._run_batch(spark, "catchup", len(ops) + 1))
        return ops

    def _run_batch(self, spark, name: str, batch_id: int) -> Op:
        wall, _stats, err = _timed(self._batch(spark, name, batch_id))
        self.op_batches.append(name)
        return Op(name, wall, len(self.batches[name]), ok=err is None, error=err)

    def _archive_docs(self) -> dict[str, str]:
        """doc_id -> stored fingerprint of every document the archive
        holds (active bases and live batches), read straight from the
        stage files."""
        from canonicity_spark import streaming
        from canonicity_spark.io_catalog import ParquetCatalog

        bases, live = streaming.archive_parts(ParquetCatalog(self.work))
        out: dict[str, str] = {}
        for part in bases + live:
            # hive partition dirs (_kp=N) start with "_", which dataset
            # discovery skips, so list the data files directly
            files = glob.glob(
                os.path.join(self.work, f"{part}_curated", "**", "*.parquet"),
                recursive=True,
            )
            tbl = pads.dataset(files).to_table(columns=["doc_id", "_fp"])
            out.update(zip(tbl.column("doc_id").to_pylist(), tbl.column("_fp").to_pylist()))
        return out

    def quality(self, ops: list[Op]) -> tuple[float, float]:
        """Check each committed timed batch against the reference.

        precision: share of the batch's survivors that are no duplicate:
        the reference keeps it (gate passed, min doc_id of its
        fingerprint within the batch, fingerprint not already in the
        archive), its stored fingerprint is right and unique among the
        survivors, and no archive document or other survivor reaches the
        near-dup threshold (exact 5-gram jaccard) with it.
        recall: share of the reference's keep set that survived or was
        dropped with a verified near-duplicate among the documents the
        archive holds (earlier batches or this batch's survivors).

        A batch is correct when it holds no exact duplicate, loses no
        document, and its near-dup precision reaches the bar (LSH finds
        near-duplicates with high probability, not certainty)."""
        stored = self._archive_docs()
        thr = self.conf.near_dup_threshold
        sh = {}

        def shingles(i: str) -> frozenset:
            if i not in sh:
                sh[i] = reference.shingles(self.text[i])
            return sh[i]

        def near(i: str, others) -> bool:
            return any(j != i and reference.jaccard(shingles(i), shingles(j)) >= thr
                       for j in others)

        archive = [i for i in self.batches["seed"] if i in stored]
        n_surv = n_ok = n_keep = n_found = 0
        for op, name in zip(ops, self.op_batches):
            if not op.ok:
                continue
            ids = self.batches[name]
            arch_fps = {stored[i] for i in archive}
            winners: dict[str, str] = {}
            for i in ids:
                if reference.passes_gate(self.text[i]):
                    fp = reference.fingerprint(self.text[i])
                    winners[fp] = min(winners.get(fp, i), i)
            keep = {i for fp, i in winners.items() if fp not in arch_fps}
            survivors = [i for i in ids if i in stored]
            surv_fps = [stored[i] for i in survivors]
            exact_ok = [
                i for i, fp in zip(survivors, surv_fps)
                if i in keep
                and fp == reference.fingerprint(self.text[i])
                and surv_fps.count(fp) == 1
            ]
            good = [i for i in exact_ok if not near(i, archive + survivors)]
            found = sum(1 for i in keep if i in stored or near(i, archive + survivors))
            op.correct = (
                len(exact_ok) == len(survivors)
                and found == len(keep)
                and len(good) >= NEAR_DUP_PRECISION_BAR * len(survivors)
            )
            n_surv, n_ok = n_surv + len(survivors), n_ok + len(good)
            n_keep, n_found = n_keep + len(keep), n_found + found
            archive += survivors
        precision = n_ok / n_surv if n_surv else 0.0
        recall = n_found / n_keep if n_keep else 0.0
        return precision, recall

WORKLOADS = {"kg_curate": KgCurate, "stream_ingest": StreamIngest}
