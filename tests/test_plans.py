"""Physical-plan assertions: the plans we'd want at 100 TB, not just plans
that pass. Checks predicate pushdown, column pruning, broadcast joins, and
winner-first extraction."""

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


def test_pricing_summary_pushes_filter_to_scan(spark, entrymod):
    df = entrymod.queries()["pricing_summary"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_token_stats_prunes_columns(spark, entrymod):
    df = entrymod.queries()["token_stats"](spark, SF)
    plan = plan_of(df)
    # scan must read only doc_id+text, not lang/source/n_chars
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_star_join_broadcasts_dims(spark, entrymod):
    df = entrymod.queries()["star_join"](spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_anti_and_semi_joins_are_hash_joins(spark, entrymod):
    for name, marker in [("anti_join", "LeftAnti"), ("semi_join", "LeftSemi")]:
        plan = plan_of(entrymod.queries()[name](spark, SF))
        assert marker in plan
        assert "CartesianProduct" not in plan


def test_winner_first_pipeline_plan(spark, vocab):
    from llacie_spark.corpus import reference_doc_meta, reference_documents
    from llacie_spark.pipeline import run_pipeline

    triples = run_pipeline(reference_documents(spark), reference_doc_meta(spark), vocab)
    lines = plan_of(triples).splitlines()
    # two Python hops, each Arrow-batched: the section UDF over the F1/F2/F4
    # notes, and the score-and-link UDF over the rank-1 winners only
    assert sum("ArrowEvalPython" in ln for ln in lines) == 2, lines
    assert not any("BatchEvalPython" in ln for ln in lines)  # no row-at-a-time Python

    def first(marker):
        return next(i for i, ln in enumerate(lines) if marker in ln)

    score, section = (first(f"ArrowEvalPython [{u}(") for u in ("score_udf", "section_udf"))
    # the plan prints parents above children: the scorer runs after the
    # window, and the cohort filter before any Python
    cohort = next(i for i, ln in enumerate(lines) if "Filter" in ln and "= H&P" in ln)
    assert score < first("Window [") < section < cohort
    # one scoring task per core, whatever AQE would coalesce to
    assert any("REPARTITION_BY_NUM" in ln for ln in lines[score:section])


def test_whole_stage_codegen_on_textstats(spark, entrymod):
    # the "*(n)" prefix marks operators inside a WholeStageCodegen span.
    # Since r07 a widening Exchange may sit under the projection when the
    # file layout yields fewer scan splits than cores (single-row-group sf
    # files), so the codegen'd Project is no longer necessarily the root —
    # the invariant is that the textstats projection IS codegen'd and no
    # Python evaluation node exists anywhere in the plan.
    import re

    df = entrymod.queries()["token_stats"](spark, SF)
    # the exchange makes the plan adaptive, and AQE only materializes the
    # codegen'd final plan after execution — collect() executes THIS
    # DataFrame's own QueryExecution (a write would wrap it in a new one)
    df.collect()
    plan = plan_of(df)
    assert re.search(r"\*\(\d+\) Project", plan), plan.splitlines()[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_knn_broadcasts_queries(spark, entrymod):
    plan = plan_of(entrymod.queries()["knn_bruteforce"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
