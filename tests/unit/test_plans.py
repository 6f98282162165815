"""Physical-plan assertions (SURVEY.md §4): the optimizer choices the
engine depends on must hold, not just the results — a plan regression
(lost broadcast, lost pushdown, Python UDF creeping into a relational
query) is a 100-TB incident even when local results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_alias_join_broadcasts(spark):
    plan = _plan(em.queries()["r1_join_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    df = em.queries()["r8_agg_q1"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    """A 2-column projection must not scan all lineitem columns."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_relational_queries_stay_jvm_side(spark):
    """No Python UDF in any purely relational oracle query — they must
    run inside whole-stage codegen."""
    qs = em.queries()
    for name in ["r1_join_broadcast", "r2_join_shuffle", "r8_agg_q1",
                 "r13_window_rank", "f6_math", "ta_quality", "ann_cosine_topk"]:
        df = qs[name](spark, SF)
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
    # codegen spans only appear in the finalized AQE plan — materialize
    # one representative query and check the executed plan has them
    df = qs["r8_agg_q1"](spark, SF)
    df.collect()
    final = _plan(df)
    assert "WholeStageCodegen" in final or "*(" in final, final[:500]


def test_textops_have_no_interpreted_hof(spark):
    """quality_score/lang_id must not contain lambda HOFs (filter/
    aggregate with a lambda is CodegenFallback — an interpreted serial
    hotspot in a per-document path; VERDICT round 2 'What's wrong' #1)."""
    for name in ["ta_quality", "ta_lang_id"]:
        plan = _plan(em.queries()[name](spark, SF)).lower()
        assert "lambdafunction" not in plan, name
        assert "arrayfilter" not in plan, name


def test_udf_derived_explode_evaluates_udf_once(spark):
    """Generate over a pandas-UDF-derived array must not trigger
    InferFiltersFromGenerate's inferred size/notnull filter — Catalyst
    pushes it below the repartition and re-evaluates the UDF a second
    time on the raw scan (measured 2x the dedup stage wall; fixed with
    outer explodes). The regression marker is a Filter over the UDF
    result: `size(pythonUDF...)` in the plan."""
    from canonicity_spark import cache, link

    surfaces = spark.createDataFrame(
        [(f"surface {i}", 1) for i in range(20)], ["norm_surface", "freq"]
    )
    alias_dict = spark.createDataFrame(
        [(f"alias {i}", f"E{i}", 1.0) for i in range(20)],
        ["alias", "entity_id", "prior"],
    )
    plans = [_plan(link.lsh_candidates(surfaces, alias_dict))]
    cache.unpin_all(owner="link")
    qs = em.queries()
    for name in ["dd_near_dup_verified", "dd_simhash_pairs", "dd_embedding_near_dup"]:
        plans.append(_plan(qs[name](spark, SF)))
    for plan in plans:
        assert "size(pythonUDF" not in plan, plan[:800]


def test_triple_resolution_broadcasts_surface_map(spark, docs, alias_dict):
    """M1's surface-map joins must be broadcast at vocabulary scale."""
    from canonicity_spark import canonicalize, extract, link, materialize

    mentions, raw = extract.run(docs)
    links = link.run(mentions, alias_dict)
    _, smap = canonicalize.run(links)
    plan = _plan(materialize.run(raw, smap))
    assert plan.count("BroadcastHashJoin") >= 2


def test_salted_agg_is_two_phase(spark):
    from canonicity_spark.canonicalize import _salted_min

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], ["k", "v"])
    plan = _optimized(_salted_min(df, "k", "v", 8))
    # two Aggregate nodes on distinct groupings (k+salt, then k)
    assert plan.count("Aggregate") >= 2 and "_salt" in plan

#: Driver actions one process_batch runs against a non-empty archive:
#: the funnel counters (first), the fingerprint, band and candidate-text
#: probes (one bounded collect each; the last also yields the verify's
#: candidate-doc count), the CC edge fetch (toPandas), and the bands and
#: curated stage writes. A probe over the value cap takes no extra one.
BATCH_ACTION_BUDGET = 7


@pytest.mark.parametrize("over_cap", [False, True])
def test_process_batch_action_budget(spark, tmp_path, monkeypatch, over_cap):
    """Pin the driver actions (collect, count, toPandas, first, stage
    writes) inside one micro-batch against a two-part archive, with all
    three archive probes under the value cap and all three over it."""
    from pyspark.sql.classic.dataframe import DataFrame

    from canonicity_spark import similarity, streaming
    from canonicity_spark.io_catalog import StageCatalog

    base = (
        "the cat sat on the mat and the dog ran to the park for a while "
        "and it was a good day to be out in the sun with the birds singing "
        "over the quiet green field near the old stone bridge."
    )

    def batch(rows):
        return spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars int",
        )

    conf = streaming.StreamConf(
        work_dir=str(tmp_path / "ingest"), near_dup_threshold=0.8
    )
    streaming.process_batch(spark, batch([(1, base)]), 0, conf)
    other = (
        "a slow river winds past the old mill and the farmers bring their "
        "grain to town on the first market day of every month of the year."
    )
    streaming.process_batch(spark, batch([(2, other)]), 1, conf)
    # the probes carry 2 fingerprints, 32 band keys and 3 candidate
    # docs: all within the cap, or all over a cap of 1
    if over_cap:
        monkeypatch.setattr(similarity, "MAX_PROBE_VALUES", 1)
    actions = []
    depth = [0]

    def counted(name, orig):
        def wrapper(*args, **kwargs):
            if depth[0] == 0:
                actions.append(name)
            depth[0] += 1
            try:
                return orig(*args, **kwargs)
            finally:
                depth[0] -= 1

        return wrapper

    for owner, name in [
        (DataFrame, "collect"), (DataFrame, "count"), (DataFrame, "toPandas"),
        (DataFrame, "first"), (StageCatalog, "write_stage"),
    ]:
        monkeypatch.setattr(owner, name, counted(name, getattr(owner, name)))
    stats = streaming.process_batch(
        spark,
        batch([(3, base.replace("good day", "fine day")), (4, "x " * 3),
               (5, base.replace("dog", "hen"))]),
        2,
        conf,
    )
    monkeypatch.undo()
    # both gate-passing docs are near-dups of archived doc 1
    assert stats["curated"] == 0
    assert len(streaming.archive_parts(streaming.make_catalog(conf))[1]) == 3
    assert sorted(actions) == sorted(
        ["first", "collect", "collect", "collect", "toPandas",
         "write_stage", "write_stage"]
    ), actions
    assert len(actions) == BATCH_ACTION_BUDGET
