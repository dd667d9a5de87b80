"""D1 scorer registry + F6 term filter + the spark-submit job end-to-end
(including --scorer resolution and --redo-older-than staleness redo)."""

import json

import pyspark.sql.functions as F
import pytest

from llacie_spark.pipeline import filter_terms
from llacie_spark.scorer import GazetteerScorer, LLMScorer, find_scorers, get_scorer


def test_registry_resolves_and_globs(vocab):
    s = get_scorer("feature.presenting_sx.gazetteer", vocab=vocab)
    assert isinstance(s, GazetteerScorer)
    assert s.score_batch(["reports fever and chills"])[0]

    llm = get_scorer("feature.presenting_sx.llm", scorer_fn=lambda ts: [["x"]] * len(ts))
    assert isinstance(llm, LLMScorer)

    assert find_scorers("feature.presenting_sx.*") == [
        "feature.presenting_sx.gazetteer",
        "feature.presenting_sx.gazetteer.cached",
        "feature.presenting_sx.llm",
        "feature.presenting_sx.subprocess",
    ]
    with pytest.raises(ValueError, match="unknown scorer"):
        get_scorer("nope")
    with pytest.raises(ValueError, match="needs vocab"):
        get_scorer("feature.presenting_sx.gazetteer")


def test_filter_terms_list_and_dataframe(spark):
    df = spark.createDataFrame(
        [(1, "fever"), (2, "chills"), (3, "rash")], "episode_id long, label_name string"
    )
    assert {r.label_name for r in filter_terms(df, ["fever", "rash"]).collect()} == {
        "fever", "rash",
    }
    assert {r.label_name for r in filter_terms(df, ["fever"], keep=False).collect()} == {
        "chills", "rash",
    }
    allowed = spark.createDataFrame([("chills",)], "term string")
    kept = filter_terms(df, allowed)
    assert [r.label_name for r in kept.collect()] == ["chills"]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


@pytest.mark.parametrize(
    "extra, message",
    [
        (["--redo-older-than", "2024-01-01 00:00:00"], "--redo-older-than needs --stage-root"),
        (["--stage-maintenance"], "--stage-maintenance needs --stage-root"),
        (["--stage-merge-on-read"], "--stage-merge-on-read needs --stage-root"),
        (["--no-export"], "--no-export needs --stage-root"),
    ],
    ids=["redo_older_than", "stage_maintenance", "stage_merge_on_read", "no_export"],
)
def test_run_kg_rejects_flag_without_prerequisite(extra, message, capsys, monkeypatch):
    """A flag whose prerequisite is missing used to be ignored (a "redo" run
    without a catalog did a fresh full build and reported success). The job
    must refuse the combination before any session starts."""
    import pyspark.sql as pys

    import jobs.run_kg as job

    def no_session(self):
        raise AssertionError("a session started before the arguments were checked")

    monkeypatch.setattr(pys.SparkSession.Builder, "getOrCreate", no_session)
    with pytest.raises(SystemExit) as exc:
        job.main(["--out", "unused", *extra])
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


def test_run_kg_job_with_scorer_and_redo(spark, tmp_path, capsys, monkeypatch):
    """The spark-submit entrypoint end-to-end in-process: fresh run, then a
    no-op resume, then a --redo-older-than re-extraction of everything.
    Every staged report has one shape: the exported graph's counters at the
    top level, so ``edges`` is the graph's edge count on every run, and the
    batch's derivation counters under ``derive``."""
    import pyspark.sql as pys

    import jobs.run_kg as job

    # getOrCreate() inside main() reuses the test session; keep its stop()
    # from tearing down the shared fixture
    monkeypatch.setattr(pys.SparkSession, "stop", lambda self: None)
    base = [
        "--docs", "60", "--out", str(tmp_path / "graph"),
        "--stage-root", str(tmp_path / "stages"),
        "--scorer", "feature.presenting_sx.gazetteer",
    ]
    job.main(base)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["resumed_docs"] == 60 and first["edges"] > 0
    assert first["derive"]["episodes"] == 60
    assert first["derive"]["edges"] == first["edges"]  # a first batch is the graph

    job.main(base)  # everything committed: nothing to redo
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["resumed_docs"] == 0
    assert second["derive"] == {"episodes": 0, "edges": 0, "retracted": 0, "uncovered": 0}
    assert second["edges"] == first["edges"]

    job.main(base + ["--redo-older-than", "9999-01-01 00:00:00"])
    redo = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert redo["resumed_docs"] == 60  # all rows stale -> full re-extraction
    assert redo["derive"]["episodes"] == 60
    assert redo["edges"] == first["edges"]
    for report in (first, second, redo):
        assert {"nodes", "edges", "partitions", "preds", "derive"} <= report.keys()
        timed = sum(v for k, v in report["phases"].items() if k.endswith("_s"))
        assert timed == pytest.approx(report["wall_s"], abs=0.1)


def test_run_kg_staged_no_export_writes_no_graph(spark, tmp_path, capsys, monkeypatch):
    """A staged run with ``--no-export`` maintains the catalog ``edges``
    table and writes nothing under ``--out``; its report has the
    derivation counters and no graph counters."""
    import pyspark.sql as pys

    import jobs.run_kg as job
    from llacie_spark.incremental import EDGES
    from llacie_spark.io import SnapshotCatalog

    monkeypatch.setattr(pys.SparkSession, "stop", lambda self: None)
    out, stages = tmp_path / "graph", tmp_path / "stages"
    job.main(["--docs", "20", "--out", str(out), "--stage-root", str(stages), "--no-export"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not out.exists()
    assert report["derive"]["edges"] > 0 and "edges" not in report
    assert SnapshotCatalog(str(stages)).read_stage(spark, EDGES).count() == report["derive"]["edges"]
