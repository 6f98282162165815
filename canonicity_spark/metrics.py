"""In-flight metrics (SURVEY.md §2 S7).

``observe()`` attaches named aggregates to a DataFrame that are
collected as a side effect of the action that materializes it — rows
and checksums come back with the write itself, costing zero extra
jobs (unlike a count(), which would re-run the plan). The per-partition
breakdown comes from parquet footers at commit time
(io_catalog._partition_lineage); this module covers the in-flight
totals and the stage timing report.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


#: AQE coalescing that keeps shuffle parallelism: the override the CC
#: loop and the near-dup verify scope over their candidate-scale DAGs
#: (the session default is size-first, see session.py).
PARALLELISM_FIRST = {"spark.sql.adaptive.coalescePartitions.parallelismFirst": "true"}


@contextmanager
def scoped_conf(spark: SparkSession, overrides: dict[str, str]) -> Iterator[None]:
    """Apply session-conf ``overrides`` for the body and restore every
    key on every exit path (a key unset before is unset again). The one
    place the engine flips conf per operator: the pipeline's per-stage
    overrides, the CC loop's and the near-dup verify's AQE
    ``parallelismFirst`` scopes. Session-global while it is open, like
    any ``spark.conf.set`` — the driver runs one operator at a time."""
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def observed(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach row/null-key observation to a stage output. Read
    ``obs.get`` only after an action has materialized the DataFrame."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def throughput_report(stage_wall: dict[str, float], n_docs: int) -> dict:
    """docs/sec per stage + total, for the cli metrics line."""
    total = sum(stage_wall.values())
    return {
        "total_stage_sec": round(total, 3),
        "docs_per_sec_stages": round(n_docs / total, 1) if total else None,
        "stage_share": {
            k: round(v / total, 3) for k, v in stage_wall.items()
        } if total else {},
    }
