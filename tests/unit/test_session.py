"""Session construction knobs (pure helpers — the shared SparkSession
fixture means build() can't be re-invoked with a different master here)."""

from __future__ import annotations

import pytest

from canonicity_spark import metrics, session, similarity


def test_cap_local_threads_rewrites_and_caps(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_CORE_CAP", "1")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 32)
    assert session._cap_local_threads("local[32]") == "local[28,4]"
    assert session._cap_local_threads("local[8]") == "local[8,4]"
    assert session._cap_local_threads("local[*]") == "local[*]"
    assert session._cap_local_threads("yarn") == "yarn"


def test_local_core_count_parses_capped_form():
    """ADVICE round 1: the shuffle-partition heuristic must parse the
    core count from the rewritten local[K,4] form, not fall back to 32."""
    assert session._local_core_count("local[28,4]") == 28
    assert session._local_core_count("local[8]") == 8
    assert session._local_core_count("local[2,4]") == 2
    assert session._local_core_count(None) == 32
    assert session._local_core_count("yarn") == 32


def test_shuffle_partitions_track_capped_cores(monkeypatch):
    """End-to-end of the heuristic: local[32] -> capped local[28,4] ->
    2x28 shuffle partitions (not the n=32 fallback's 64)."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_CORE_CAP", "1")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 32)
    master = session._cap_local_threads("local[32]")
    n = session._local_core_count(master)
    assert max(8, 2 * n) == 56


def test_in_filter_threshold_derives_from_probe_cap():
    """Every archive probe pushes at most MAX_PROBE_VALUES literals, and
    each must reach the parquet scan as equalities (bloom/min-max
    skipping), not as the min/max range a list over the threshold
    degrades to: the threshold is the cap, not a second number."""
    conf = session.DEFAULT_CONF
    assert conf["spark.sql.parquet.pushdown.inFilterThreshold"] == str(
        similarity.MAX_PROBE_VALUES
    )
    # far below the ~1.5k-value OR chain that overflows the scan's stack
    assert similarity.MAX_PROBE_VALUES <= 512


def test_scoped_conf_restores_on_raise(spark):
    """metrics.scoped_conf restores a set key to its old value and an
    unset key to unset, also when the body raises."""
    set_key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    unset_key = "spark.canonicity.test.scoped"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError, match="body failed"):
        with metrics.scoped_conf(spark, {set_key: "true", unset_key: "x"}):
            assert spark.conf.get(set_key) == "true"
            assert spark.conf.get(unset_key) == "x"
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
