"""Graph materialization: partitioned nodes/edges + per-partition metrics."""

import glob

from llacie_spark.corpus import reference_doc_meta, reference_documents
from llacie_spark.materialize import (
    build_edges,
    build_nodes,
    edge_partition_metrics,
    materialize_graph,
)
from llacie_spark.pipeline import run_pipeline


def test_materialize_graph(spark, vocab, tmp_path, forbid_parquet_reads):
    triples = run_pipeline(
        reference_documents(spark), reference_doc_meta(spark), vocab
    ).cache()
    out = str(tmp_path / "graph")
    with forbid_parquet_reads(out):  # written once, never read back
        stats = materialize_graph(triples, out, n_buckets=8)
    assert stats["edges"] == triples.count()
    assert stats["nodes"] > 0 and stats["partitions"] <= 8
    leaves = glob.glob(f"{out}/edges/pred=*/subj_bucket=*")
    assert stats["partitions"] == len(leaves)
    for leaf in leaves:
        assert len(glob.glob(f"{leaf}/*.parquet")) == 1, leaf

    edges = spark.read.parquet(f"{out}/edges")
    # partition columns restored from directory layout
    assert {"pred", "subj_bucket"} <= set(edges.columns)
    assert edges.count() == stats["edges"]
    # partition pruning works: one bucket's scan reads one directory
    one = edges.where("subj_bucket = 3")
    assert 0 < one.count() < stats["edges"]

    nodes = spark.read.parquet(f"{out}/nodes")
    assert nodes.count() == stats["nodes"]
    kinds = {r.kind for r in nodes.select("kind").distinct().collect()}
    assert kinds == {"episode", "concept"}
    assert nodes.groupBy("node_id").count().where("count > 1").count() == 0

    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.count() == stats["partitions"]
    total = metrics.agg({"n_edges": "sum"}).first()[0]
    assert total == stats["edges"]


def test_materialize_empty_triples(spark, vocab, tmp_path):
    triples = run_pipeline(
        reference_documents(spark), reference_doc_meta(spark), vocab
    ).where("false")
    out = str(tmp_path / "graph")
    stats = materialize_graph(triples, out, n_buckets=8)
    assert {k: stats[k] for k in ("nodes", "edges", "partitions")} == {
        "nodes": 0, "edges": 0, "partitions": 0,
    }
    assert spark.read.parquet(f"{out}/nodes").count() == 0
    assert spark.read.parquet(f"{out}/metrics").count() == 0


def test_materialize_executes_extraction_exactly_once(spark, vocab, tmp_path):
    """VERDICT r01 item 3: materialize_graph writes nodes+edges and derives
    metrics/counts WITHOUT re-running the upstream pipeline."""

    # defined in-function so cloudpickle ships it by value (tests/ is not
    # importable on executors); the accumulator observes executor-side work
    class _CountingScorer:
        def __init__(self, acc):
            self.acc = acc

        def score_batch(self, texts):
            self.acc.add(len([t for t in texts if t]))
            return [["fever"] for _ in texts]

    # calibrate: how many scoring calls does ONE full execution make?
    cal = spark.sparkContext.accumulator(0)
    run_pipeline(
        reference_documents(spark), reference_doc_meta(spark), vocab,
        scorer=_CountingScorer(cal),
    ).count()
    expected_single = cal.value
    assert expected_single > 0

    acc = spark.sparkContext.accumulator(0)
    triples = run_pipeline(
        reference_documents(spark), reference_doc_meta(spark), vocab,
        scorer=_CountingScorer(acc),
    )
    materialize_graph(triples, str(tmp_path / "g"), n_buckets=4)
    assert acc.value == expected_single, (
        f"extraction ran {acc.value / expected_single:.1f}x during materialize"
    )


def test_edges_lineage_carried(spark, vocab):
    triples = run_pipeline(reference_documents(spark), reference_doc_meta(spark), vocab)
    edges = build_edges(triples, n_buckets=4)
    row = edges.first()
    assert row.strategy and row.strategy_version and row.provenance_doc.startswith("doc-")
    assert 0 <= row.subj_bucket < 4
    m = edge_partition_metrics(edges)
    assert m.where("n_edges <= 0").count() == 0


def test_nodes_shapes(spark, vocab):
    triples = run_pipeline(reference_documents(spark), reference_doc_meta(spark), vocab)
    nodes = build_nodes(build_edges(triples, n_buckets=4))
    eps = nodes.where("kind = 'episode'").count()
    cons = nodes.where("kind = 'concept'").count()
    assert eps > 0 and cons > 0
    assert nodes.count() == eps + cons
