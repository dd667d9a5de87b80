"""Stage 4: graph materialization — partitioned nodes/edges tables.

Turns the triple stream into the final KG tables with per-partition lineage
and metrics (north rule stage 4). Layout choices that matter at 10^12 docs:

- **edges** partitioned by ``pred`` (few, stable values → partition pruning
  for per-relation queries) and bucketed by ``subj_bucket = hash(subj) % B``
  inside each partition, so edge scans for one entity touch one bucket and
  entity-keyed joins can co-locate without a shuffle (Iceberg: ``PARTITIONED
  BY (pred, bucket(B, subj))``; parquet rendering: directory partition on
  both columns).
- **nodes** deduplicated by id with kind discriminators.
- per-partition **metrics rows** (the A9 fail-count analog): rows, distinct
  subjects, min/max line_number per (pred, bucket) — written alongside so
  data-quality drift is queryable without scanning edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .schemas import PRED_HAS_SYMPTOM

DEFAULT_BUCKETS = 64


def build_nodes(edges: DataFrame) -> DataFrame:
    """Node table derived from the edges: an episode node per ``subj``, a
    concept node per ``obj``, the name being the text after the prefix."""

    def side(col: str, kind: str) -> DataFrame:
        prefix = f"{kind}:"
        return edges.select(
            F.col(col).alias("node_id"),
            F.lit(kind).alias("kind"),
            F.expr(f"substring({col}, {len(prefix) + 1})").alias("name"),
        )

    return side("subj", "episode").unionByName(side("obj", "concept")).dropDuplicates(
        ["node_id"]
    )


def build_edges(triples: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Edge table with partition columns + lineage carried through."""
    return triples.select(
        F.concat(F.lit("episode:"), F.col("episode_id")).alias("subj"),
        F.col("pred"),
        F.concat(F.lit("concept:"), F.col("label_name")).alias("obj"),
        F.col("label_value").alias("weight"),
        F.col("line_number"),
        F.col("doc_id").alias("provenance_doc"),
        "stage",
        "strategy",
        "strategy_version",
        "updated_at",
        F.pmod(F.xxhash64(F.concat(F.lit("episode:"), F.col("episode_id"))), F.lit(n_buckets))
        .cast("int")
        .alias("subj_bucket"),
    )


def edge_partition_metrics(edges: DataFrame) -> DataFrame:
    """Per-(pred, bucket) quality metrics — the queryable runtime footprint.

    ``objs`` lists the bucket's distinct object ids (vocab-bounded, so at
    most a few hundred strings per row).

    ``n_subjects`` is the size of a set, not ``countDistinct``: a distinct
    aggregate plans as two more aggregations and one more exchange (measured
    on 59k edges, 4 cores: 282 -> 135 MB allocated, 0.31 -> 0.18 s)."""
    return edges.groupBy("pred", "subj_bucket").agg(
        F.count("*").alias("n_edges"),
        F.size(F.collect_set("subj")).cast("long").alias("n_subjects"),
        F.min("line_number").alias("min_line"),
        F.max("line_number").alias("max_line"),
        F.max("updated_at").alias("last_updated"),
        F.sort_array(F.collect_set("obj")).alias("objs"),
    )


def write_graph(edges: DataFrame, out_dir: str) -> dict:
    """Write nodes/, edges/ (partitioned by pred, subj_bucket) and metrics/,
    all three derived from ``edges``. The edges are persisted once, so their
    upstream plan runs once; nothing is read back: the row counts are
    observed on the writes (an ``Observation`` is bound to its own
    DataFrame, so concurrent calls cannot mix counts). Returns the counts.
    With an Iceberg catalog these become three
    ``writeTo(...).partitionedBy(...)`` commits."""
    edges = edges.persist()
    try:
        obs = {k: Observation() for k in ("nodes", "edges", "partitions")}
        rows = F.count(F.lit(1)).alias("rows")
        build_nodes(edges).observe(obs["nodes"], rows).write.mode("overwrite").parquet(
            f"{out_dir}/nodes"
        )
        # hash ON the partition columns first, so each (pred, bucket) leaf
        # is one task's and gets one file — without it every input task
        # opens a writer for every leaf it sees (measured: 32 tasks × 64
        # buckets = 2048 tiny files at 60k docs), the layout
        # io._write_buckets and Iceberg's hash write-distribution avoid. The
        # partition count is explicit, one task per core: AQE coalesced the
        # bare repartition to ONE task that wrote all 64 leaves one after
        # another (measured on 59k edges, 4 cores: edges write 1.01 s ->
        # 0.51 s).
        parts = edges.sparkSession.sparkContext.defaultParallelism
        edges.repartition(parts, "pred", "subj_bucket").observe(obs["edges"], rows).write.mode(
            "overwrite"
        ).partitionBy("pred", "subj_bucket").parquet(f"{out_dir}/edges")
        edge_partition_metrics(edges).observe(obs["partitions"], rows).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/metrics")
        return {k: o.get["rows"] for k, o in obs.items()} | {"preds": [PRED_HAS_SYMPTOM]}
    finally:
        edges.unpersist()


def materialize_graph(
    triples: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """``write_graph`` the edges built from the triples. Returns row counts.

    The persisted edges are a projection of the triples, so the cache holds
    only the columns the graph stores: triples carry the full ``spans``
    payload, and caching it too meant ~6 KB/row of dead weight (measured at
    60k docs: ~2.3 GB cached, 8-18 s of GC-thrashed persist swinging 3x
    run-to-run, and an OOM'd executor at 1M docs). The upstream plan,
    including the Python extraction UDF, runs exactly once."""
    return write_graph(build_edges(triples, n_buckets), out_dir)
