"""Batch-incremental downstream derivation (triples → graph) over the
snapshot catalog.

The full-derivation path (``run_pipeline`` / ``episode_triples`` over
``read_stage`` + ``materialize_graph`` overwrite) recomputes the WHOLE
graph every ingest batch: the 1M-doc lifecycle measured 71 s of repeated
full re-derivation per batch (BENCH/LIFECYCLE.md), and at 10^12 docs that
is the single largest avoidable cost in the composed path. The reference
never paid it — its episode-label stage ran only unfinished ids
(``llacie/db.py:492-508``), and its per-note write was a DELETE-then-INSERT
touching only conflicting rows (``llacie/db.py:650-665``).

This module maintains the graph as FOUR catalog tables, each updated with
work proportional to the batch:

- ``edges``      keyed by ``subj`` (merge-on-read upsert; equality-delete
                 tombstones for episodes recomputed to zero triples);
- ``episode_nodes`` keyed by ``node_id`` (an episode node exists iff the
                 episode has ≥1 edge — maintained exactly);
- ``concept_nodes`` keyed by ``node_id`` (global liveness recomputed from
                 the per-bucket ``objs`` sets in ``edge_metrics`` — a
                 vocab-bounded table, so the recompute is O(buckets), not
                 O(edges));
- ``edge_metrics`` keyed by (pred, subj_bucket), recomputed ONLY for the
                 buckets the batch's episodes hash into, read back via the
                 catalog's bucket-pruned scan.

Scale shape: a batch of D docs in E episodes causes (a) a bucket-pruned
re-read of the extracted stage restricted to those episodes' docs, (b) an
argmin over that slice only, (c) an O(new edges) MoR write + O(retracted
keys) tombstones, and (d) a metrics recompute over the ≤min(E, B) touched
subj-buckets. Nothing scans the full table; compaction of the accumulated
deltas rides the normal maintenance slot (``maybe_split``/``compact``).

Episode-granularity recompute is required for correctness, not a shortcut:
a new note can displace its episode's argmin winner (earlier qualifying
note wins, reference ``get_earliest_notes_with_feature``,
``llacie/db.py:237-275``), so every episode touched by the batch recomputes
from ALL of its docs — and an episode whose new winner carries zero
matches must RETRACT previously emitted edges (the tombstone case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import SnapshotCatalog
from .materialize import build_edges, edge_partition_metrics, write_graph
from .pipeline import episode_triples

EDGES = "edges"
EPISODE_NODES = "episode_nodes"
CONCEPT_NODES = "concept_nodes"
EDGE_METRICS = "edge_metrics"
_META_BUCKETS = 4  # vocab- / bucket-bounded tables: tiny by construction


def _episode_subj(col: str = "episode_id"):
    return F.concat(F.lit("episode:"), F.col(col).cast("string"))


def affected_docs(new_doc_ids: DataFrame, doc_meta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(affected episodes, ALL their docs) for a batch of new doc ids.

    ``doc_meta`` must cover every staged doc (it is the doc→episode map);
    two slim semi-joins, no payload columns."""
    eps = (
        doc_meta.join(new_doc_ids.select("doc_id"), "doc_id", "semi")
        .select("episode_id")
        .distinct()
    )
    docs = doc_meta.join(eps, "episode_id", "semi").select("doc_id")
    return eps, docs


def derive_batch(
    spark: SparkSession,
    cat: SnapshotCatalog,
    new_doc_ids: DataFrame,
    doc_meta: DataFrame,
    n_buckets: int = 64,
) -> dict:
    """Recompute + commit the graph contribution of one ingest batch.

    Returns counters: episodes recomputed, edges written, subjects
    retracted, metric buckets touched. Idempotent per batch (re-running
    with the same batch converges to the same table state — upserts
    replace, tombstones re-delete)."""
    eps, adocs = affected_docs(new_doc_ids, doc_meta)
    slice_df = cat.read_stage_pruned(spark, "extracted", keys_df=adocs)
    if slice_df is None:
        return {"episodes": 0, "edges": 0, "retracted": 0, "metric_buckets": 0}
    # pruned read returns whole buckets (a superset); restrict to the
    # affected episodes' docs before the argmin
    slice_df = slice_df.join(adocs, "doc_id", "semi")
    triples = episode_triples(slice_df, doc_meta)
    new_edges = build_edges(triples, n_buckets).persist()
    # episodes whose recomputation produced NO triples: their previously
    # committed edges (if any) must be retracted — equality-delete
    # tombstones, O(keys) write (llacie analog: the DELETE half of its
    # per-note DELETE-then-INSERT, db.py:650-665). Restricted to subjects
    # ACTUALLY PRESENT in the committed table: a first-seen zero-triple
    # episode has nothing to retract, and a no-op tombstone would still
    # cost every later read of its bucket a delta generation until
    # compaction.
    zero_eps = eps.select(_episode_subj().alias("subj")).join(
        new_edges.select("subj").distinct(), "subj", "left_anti"
    )
    committed = cat.read_stage_pruned(spark, EDGES, keys_df=zero_eps)
    retracted = (
        zero_eps.join(committed.select("subj").distinct(), "subj", "semi")
        if committed is not None
        else zero_eps.limit(0)
    ).persist()
    try:
        n_new = new_edges.count()
        cur = cat.current_snapshot(EDGES)
        if cur is not None and cur["n_buckets"] != n_buckets:
            raise ValueError(
                f"edges table bucketed at base {cur['n_buckets']} != graph "
                f"n_buckets {n_buckets}: metrics-bucket/leaf alignment broken"
            )
        if n_new:
            cat.upsert(
                spark, new_edges, EDGES, "subj",
                n_buckets=n_buckets, merge_on_read=True,
            )
        n_retracted = 0
        if cat.current_snapshot(EDGES) is not None:
            n_retracted = retracted.count()
            if n_retracted:
                cat.delete_keys(retracted, EDGES)
        # ---- episode nodes: exact (present iff ≥1 edge) -------------------
        ep_nodes = new_edges.select(
            F.col("subj").alias("node_id"),
            F.lit("episode").alias("kind"),
            F.expr("substring(subj, 9)").alias("name"),
        ).distinct()
        if n_new:
            cat.upsert(
                spark, ep_nodes, EPISODE_NODES, "node_id",
                n_buckets=n_buckets, merge_on_read=True,
            )
        if n_retracted and cat.current_snapshot(EPISODE_NODES) is not None:
            cat.delete_keys(
                retracted.select(F.col("subj").alias("node_id")),
                EPISODE_NODES,
            )
        # ---- metrics: recompute ONLY the touched subj-buckets ------------
        # base == graph n_buckets (asserted above) makes catalog leaves a
        # refinement of subj_bucket (leaf b at modulus m holds hash%m == b,
        # and m is base·2^k, so leaf → subj_bucket is b % base): the leaves
        # with b % base in the touched set are EXACTLY those buckets' rows.
        touched_g = {
            r["g"]
            for r in new_edges.select(F.col("subj_bucket").alias("g"))
            .union(
                retracted.select(
                    F.pmod(F.xxhash64("subj"), F.lit(n_buckets))
                    .cast("int")
                    .alias("g")
                )
            )
            .distinct()
            .collect()  # bounded: ≤ n_buckets values
        }
    finally:
        new_edges.unpersist()
        retracted.unpersist()
    n_metric_buckets = 0
    if touched_g and cat.current_snapshot(EDGES) is not None:
        # catalog base == graph n_buckets (asserted above), so the catalog
        # owns the leaf↔base-bucket arithmetic
        leaves = cat.leaves_for_base_buckets(EDGES, touched_g)
        bucket_rows = (
            cat.read_stage_pruned(spark, EDGES, leaves=leaves)
            if leaves
            else None
        )
        new_metrics = (
            edge_partition_metrics(bucket_rows).persist()
            if bucket_rows is not None
            else None
        )
        try:
            if new_metrics is not None and new_metrics.count():
                cat.upsert(
                    spark, new_metrics, EDGE_METRICS,
                    ["pred", "subj_bucket"], n_buckets=_META_BUCKETS,
                )
            old_metrics = cat.read_stage(spark, EDGE_METRICS)
            if old_metrics is not None:
                dead = old_metrics.select("pred", "subj_bucket").where(
                    F.col("subj_bucket").isin(sorted(touched_g))
                )
                if new_metrics is not None:
                    dead = dead.join(
                        new_metrics.select("pred", "subj_bucket"),
                        ["pred", "subj_bucket"], "left_anti",
                    )
                cat.delete_keys(dead, EDGE_METRICS)
        finally:
            if new_metrics is not None:
                new_metrics.unpersist()
        n_metric_buckets = len(touched_g)
    # ---- concept nodes: global liveness from the tiny metrics table ------
    metrics_now = cat.read_stage(spark, EDGE_METRICS)
    if metrics_now is not None:
        live = (
            metrics_now.select(F.explode("objs").alias("node_id"))
            .distinct()
            .select(
                "node_id",
                F.lit("concept").alias("kind"),
                F.expr("substring(node_id, 9)").alias("name"),
            )
            .persist()
        )
        try:
            if live.count():
                cat.upsert(
                    spark, live, CONCEPT_NODES, "node_id",
                    n_buckets=_META_BUCKETS,
                )
            old_concepts = cat.read_stage(spark, CONCEPT_NODES)
            if old_concepts is not None:
                gone = old_concepts.select("node_id").join(
                    live.select("node_id"), "node_id", "left_anti"
                )
                cat.delete_keys(gone, CONCEPT_NODES)
        finally:
            live.unpersist()
    n_eps = eps.count()
    return {
        "episodes": n_eps,
        "edges": n_new,
        "retracted": n_retracted,
        "metric_buckets": n_metric_buckets,
    }


def record_pending(ids_df: DataFrame, stage_root: str) -> str:
    """Append one batch's doc ids to the pending-derivation log.

    The log closes the extract→derive crash window: the extraction upsert
    and the graph derivation are separate commits, so a crash between them
    would otherwise lose the batch's derivation FOREVER (discovery sees the
    docs as extracted; nothing re-derives their episodes). Each batch's ids
    land in their own subdirectory (unique name, so a retry never clobbers
    a previous batch); :func:`read_pending` unions everything outstanding,
    and because :func:`derive_batch` is idempotent at episode granularity,
    re-deriving a crashed batch's ids together with the new batch converges
    to the same tables. Iceberg analog: the derivation's source-snapshot
    watermark kept in table properties."""
    import os
    import uuid

    d = os.path.join(stage_root, "_pending_derive", uuid.uuid4().hex)
    ids_df.select("doc_id").write.parquet(d)
    return d


def read_pending(spark: SparkSession, stage_root: str):
    """(union of all outstanding batch ids | None, their subdirs)."""
    import os

    root = os.path.join(stage_root, "_pending_derive")
    if not os.path.isdir(root):
        return None, []
    subs = sorted(
        os.path.join(root, n) for n in os.listdir(root)
        if os.path.isdir(os.path.join(root, n))
    )
    if not subs:
        return None, []
    return spark.read.parquet(*subs).distinct(), subs


def clear_pending(paths: list[str]) -> None:
    """Remove CONSUMED pending-log entries (the list read_pending returned
    before the derive — never the whole directory, so a batch recorded
    after the read survives)."""
    import shutil

    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def maintain_graph(
    spark: SparkSession,
    cat: SnapshotCatalog,
    target_bucket_bytes: int = 256 << 20,
    compact_min_deltas: int = 4,
    vacuum_older_than_s: float = 600,
    commit_retries: int = 4,
) -> dict:
    """The graph tables' maintenance slot: compact accumulated MoR deltas /
    tombstones, split overgrown buckets, expire dead snapshots — same
    service an Iceberg table-maintenance job provides. ``commit_retries``
    defaults on: maintenance runs beside the very writers whose deltas it
    folds, so losing a CAS to one of them must retry, not crash the job."""
    out = {}
    for name in (EDGES, EPISODE_NODES, CONCEPT_NODES, EDGE_METRICS):
        if cat.current_snapshot(name) is None:
            continue
        split = cat.maybe_split(
            spark, name, target_bucket_bytes=target_bucket_bytes,
            compact_min_deltas=compact_min_deltas,
            commit_retries=commit_retries,
        )
        expired = cat.vacuum(name, older_than_s=vacuum_older_than_s)
        out[name] = {"split": split, "expired": len(expired)}
    return out


def export_graph(spark: SparkSession, cat: SnapshotCatalog, out_dir: str) -> dict:
    """Render the catalog graph tables to the plain-parquet graph layout
    ``materialize_graph`` writes (nodes/, edges/ partitioned by
    (pred, subj_bucket), metrics/) — a full-table write, so an explicit
    step (final export / downstream handoff), NOT part of the per-batch
    loop. Returns the same counters dict as ``materialize_graph``."""
    edges = cat.read_stage(spark, EDGES)
    if edges is None:
        raise ValueError("export_graph: no committed edges table")
    ep = cat.read_stage(spark, EPISODE_NODES)
    cn = cat.read_stage(spark, CONCEPT_NODES)
    nodes = ep if cn is None else (cn if ep is None else ep.unionByName(cn))
    metrics = cat.read_stage(spark, EDGE_METRICS)
    if nodes is None or metrics is None:
        # a derive_batch crash between its table commits can leave edges
        # committed but nodes/metrics absent; the pending-derive log will
        # re-derive them — exporting now would write a torn graph
        missing = [
            n for n, df in ((EPISODE_NODES, nodes), (EDGE_METRICS, metrics))
            if df is None
        ]
        raise ValueError(
            f"export_graph: edges committed but {missing} missing — a "
            "derivation is incomplete; re-run the incremental derive (the "
            "pending log re-covers it) before exporting"
        )
    return write_graph(nodes, edges, metrics, out_dir)
