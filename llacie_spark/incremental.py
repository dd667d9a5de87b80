"""Batch-incremental downstream derivation (triples → graph) over the
snapshot catalog: the derivation of every staged run (``run_kg
--stage-root``).

Derivation work follows the batch, not the table, as in the reference:
its episode-label stage ran only unfinished ids (``llacie/db.py:492-508``),
and its per-note write was a DELETE-then-INSERT touching only conflicting
rows (``llacie/db.py:650-665``).

This module maintains ONE catalog table, ``edges``, keyed by ``subj``: a
merge-on-read upsert of the batch's recomputed edges plus equality-delete
tombstones for episodes recomputed to zero triples. Like the reference,
which stores only its episode labels (``episode_labels``,
``llacie/sql/schema.sql:148-168``), nothing derived from the edges is
stored: nodes and per-partition metrics are derived from them by
``materialize.write_graph`` when :func:`export_graph` renders the graph.

Scale shape: a batch of D docs in E episodes causes (a) a bucket-pruned
re-read of the extracted stage restricted to those episodes' docs, (b) an
argmin over that slice only, and (c) an O(new edges) MoR write + O(retracted
keys) tombstones — at most two commits. Nothing scans the full table;
compaction of the accumulated deltas rides the normal maintenance slot
(:func:`maintain_graph`).

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
from .materialize import DEFAULT_BUCKETS, build_edges, write_graph
from .pipeline import episode_triples
from .schemas import TRIPLES

EDGES = "edges"


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
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Recompute + commit the edges of one ingest batch's episodes.

    Returns counters: episodes recomputed, edges written, subjects
    retracted. Idempotent per batch (re-running with the same batch
    converges to the same table state — upserts replace, tombstones
    re-delete)."""
    eps, adocs = affected_docs(new_doc_ids, doc_meta)
    slice_df = cat.read_stage_pruned(spark, "extracted", keys_df=adocs)
    if slice_df is None:
        return {"episodes": 0, "edges": 0, "retracted": 0}
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
                f"edges table bucketed at {cur['n_buckets']} != n_buckets "
                f"{n_buckets}: subj_bucket must stay consistent across the "
                "batches of one edges table"
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
    finally:
        new_edges.unpersist()
        retracted.unpersist()
    return {"episodes": eps.count(), "edges": n_new, "retracted": n_retracted}


def derive_all(
    spark: SparkSession, cat: SnapshotCatalog, stage_root: str, doc_meta: DataFrame
) -> dict:
    """:func:`derive_batch` over the whole stage, for a root with no
    committed ``edges`` table (a first run, or staged before the table
    existed): a plain read and a first-snapshot write, nothing to merge or
    retract. The staged docs ``doc_meta`` does not cover derive nothing
    here, so they go to the pending log for a run that covers them. Counters
    of :func:`derive_batch` plus ``uncovered``, the ids logged."""
    staged = cat.read_stage(spark, "extracted")
    if staged is None:
        return {"episodes": 0, "edges": 0, "retracted": 0, "uncovered": 0}
    # logged before the edges commit: once the table exists, only the log
    # brings these docs back
    ids = doc_meta.select("doc_id")
    _, uncovered = record_pending(
        staged.select("doc_id").join(ids, "doc_id", "left_anti"), stage_root
    )
    edges = build_edges(episode_triples(staged, doc_meta), DEFAULT_BUCKETS).persist()
    try:
        n_edges = edges.count()
        cat.write_stage(edges, EDGES, "subj", n_buckets=DEFAULT_BUCKETS)
    finally:
        edges.unpersist()
    eps = doc_meta.join(staged.select("doc_id"), "doc_id", "semi").select("episode_id")
    return {
        "episodes": eps.distinct().count(), "edges": n_edges, "retracted": 0,
        "uncovered": uncovered,
    }


def record_pending(ids_df: DataFrame, stage_root: str) -> tuple[str, int]:
    """Append one batch's doc ids to the pending-derivation log.

    The log closes the extract→derive crash window: the extraction upsert
    and the graph derivation are separate commits, so a crash between them
    would otherwise lose the batch's derivation FOREVER (discovery sees the
    docs as extracted; nothing re-derives their episodes). Each batch's ids
    land in their own subdirectory (unique name, so a retry never clobbers
    a previous batch); :func:`read_pending` unions everything outstanding,
    and because :func:`derive_batch` is idempotent at episode granularity,
    re-deriving a crashed batch's ids together with the new batch converges
    to the same table. Iceberg analog: the derivation's source-snapshot
    watermark kept in table properties. Returns the entry's path and its
    id count; an empty entry is removed."""
    import os
    import uuid

    d = os.path.join(stage_root, "_pending_derive", uuid.uuid4().hex)
    ids_df.select("doc_id").write.parquet(d)
    n = ids_df.sparkSession.read.parquet(d).count()
    if not n:
        clear_pending([d])
    return d, n


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


def derive_pending(
    spark: SparkSession, cat: SnapshotCatalog, stage_root: str, doc_meta: DataFrame
) -> dict:
    """Derive every outstanding pending-log id (a crashed run's too:
    idempotent per episode), then retire the entries read, unless
    ``doc_meta`` misses some id: retiring would drop its only re-derivation
    record. Returns the counters plus ``uncovered``, the ids kept."""
    pending, consumed = read_pending(spark, stage_root)
    if cat.current_snapshot(EDGES) is None:
        # every staged doc is due, the logged ids among them (an id whose
        # extraction never committed is rediscovered by the run that
        # extracts it); derive_all logs anew the ones doc_meta misses
        stats = derive_all(spark, cat, stage_root, doc_meta)
        clear_pending(consumed)
        return stats
    if pending is None:
        return {"episodes": 0, "edges": 0, "retracted": 0, "uncovered": 0}
    stats = derive_batch(spark, cat, pending, doc_meta)
    uncovered = pending.join(doc_meta.select("doc_id"), "doc_id", "left_anti").count()
    if not uncovered:
        clear_pending(consumed)
    return stats | {"uncovered": uncovered}


def maintain_graph(
    spark: SparkSession,
    cat: SnapshotCatalog,
    target_bucket_bytes: int = 256 << 20,
    compact_min_deltas: int = 4,
    vacuum_older_than_s: float = 600,
    commit_retries: int = 4,
    table: str = EDGES,
) -> dict:
    """A catalog table's maintenance slot (the edges table by default;
    ``run_kg`` also runs it on ``extracted``): compact accumulated MoR
    deltas / tombstones, split overgrown buckets, expire dead snapshots —
    same service an Iceberg table-maintenance job provides.
    ``commit_retries`` defaults on: maintenance runs beside the very writers
    whose deltas it folds, so losing a CAS to one of them must retry, not
    crash the job."""
    if cat.current_snapshot(table) is None:
        return {}
    split = cat.maybe_split(
        spark, table, target_bucket_bytes=target_bucket_bytes,
        compact_min_deltas=compact_min_deltas,
        commit_retries=commit_retries,
    )
    expired = cat.vacuum(table, older_than_s=vacuum_older_than_s)
    return {table: {"split": split, "expired": len(expired)}}


def export_graph(spark: SparkSession, cat: SnapshotCatalog, out_dir: str) -> dict:
    """Render the catalog ``edges`` table, with the nodes and metrics
    derived from it, to the plain-parquet graph layout ``materialize_graph``
    writes (nodes/, edges/ partitioned by (pred, subj_bucket), metrics/) —
    a full-table write, so an explicit step (final export / downstream
    handoff), NOT part of the per-batch loop. Returns the same counters
    dict as ``materialize_graph``."""
    edges = cat.read_stage(spark, EDGES)
    if edges is None:
        # no batch has derived an edge yet: the graph is empty
        edges = build_edges(spark.createDataFrame([], TRIPLES))
    return write_graph(edges, out_dir)
