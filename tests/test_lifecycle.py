"""Composed incremental lifecycle (VERDICT r4 #3), in-process miniature of
scripts/lifecycle_stress.py: docs arrive in batches through the spark-submit
entrypoint, one batch dies mid-extraction (scorer raises inside the UDF, so
nothing commits), the next invocation resumes, and the final graph is
value-equal to a one-shot run. The full-scale (1M-doc, SIGKILL'd process
group) version writes BENCH/LIFECYCLE.md."""

import json

import pytest


def _edge_set(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/edges").drop("updated_at")
    return {tuple(r) for r in df.collect()}


def test_batched_ingest_with_midbatch_failure_equals_oneshot(
    spark, tmp_path, capsys, monkeypatch
):
    import pyspark.sql as pys

    import jobs.run_kg as job
    from llacie_spark import scorer as scorer_mod

    monkeypatch.setattr(pys.SparkSession, "stop", lambda self: None)

    class _FailingScorer:
        """Dies inside the extraction UDF on the executor — the miniature
        of SIGKILLing the batch: the upsert's write job fails, so the
        catalog manifest never moves and the whole batch stays undone.
        Defined function-locally so cloudpickle ships it by VALUE (the test
        module is not importable from executor Python workers)."""

        name = "feature.presenting_sx.failing"
        version = "0.0.0"

        def score_batch(self, texts):
            raise RuntimeError("injected mid-extraction failure")

    monkeypatch.setitem(
        scorer_mod.SCORER_REGISTRY,
        "feature.presenting_sx.failing",
        lambda **kw: _FailingScorer(),
    )

    inc = [
        "--out", str(tmp_path / "inc_graph"),
        "--stage-root", str(tmp_path / "inc_stages"),
        "--stage-buckets", "auto", "--stage-maintenance",
    ]

    def run(docs, extra=()):
        job.main(["--docs", str(docs), *inc, *extra])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert run(40)["resumed_docs"] == 40
    assert run(80)["resumed_docs"] == 40

    # batch 3 dies mid-extraction: the job raises, nothing commits
    with pytest.raises(Exception, match="injected mid-extraction failure"):
        job.main(
            ["--docs", "120", *inc, "--scorer", "feature.presenting_sx.failing"]
        )
    capsys.readouterr()

    # resume: the dead batch is re-discovered IN FULL and re-extracted
    resumed = run(120)
    assert resumed["resumed_docs"] == 40

    # a further no-op invocation finds nothing to do
    assert run(120)["resumed_docs"] == 0

    # ground truth: the one-shot twin (no catalog: run_pipeline's plan)
    job.main(["--docs", "120", "--out", str(tmp_path / "one_graph")])
    capsys.readouterr()

    inc_edges = _edge_set(spark, tmp_path / "inc_graph")
    one_edges = _edge_set(spark, tmp_path / "one_graph")
    assert inc_edges and inc_edges == one_edges


def test_pending_log_kept_when_run_cannot_cover_it(
    spark, tmp_path, capsys, monkeypatch
):
    """A run whose doc→episode map does not cover every outstanding
    pending-derive id must NOT retire the log: the uncovered ids' episodes
    derived nothing this run, and deleting their only re-derivation record
    would lose them forever (the crash window the log exists to close)."""
    import os

    import pyspark.sql as pys

    import jobs.run_kg as job
    from llacie_spark.incremental import record_pending

    monkeypatch.setattr(pys.SparkSession, "stop", lambda self: None)
    stage_root = str(tmp_path / "stages")
    inc = [
        "--out", str(tmp_path / "graph"),
        "--stage-root", stage_root,
        "--stage-buckets", "auto", "--no-export",
    ]

    def run(docs):
        job.main(["--docs", str(docs), *inc])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run(40)  # normal batch: derives and clears its own log entry
    pend_root = os.path.join(stage_root, "_pending_derive")
    assert not os.path.isdir(pend_root) or not os.listdir(pend_root)

    # a crashed bigger run left ids this 40-doc run cannot cover
    record_pending(
        spark.createDataFrame(
            [(f"doc-{i:06d}",) for i in (101, 102)], "doc_id string"
        ),
        stage_root,
    )
    run(40)
    assert os.listdir(pend_root), "uncovered pending entries were retired"

    # a later run that covers them derives and retires the log
    run(120)
    assert not os.path.isdir(pend_root) or not os.listdir(pend_root)
