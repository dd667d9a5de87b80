"""Batch-incremental graph derivation (VERDICT r6 directive #1).

The contract: after any sequence of batches, ``export_graph`` of the
catalog ``edges`` table writes the graph ``materialize_graph`` writes from
a full derivation over the whole staged table — including the two hard
cases full-table recompute gets for free:

- WINNER DISPLACEMENT: a later batch adds an earlier qualifying note to an
  existing episode; the episode's edges must be REPLACED (merge-on-read
  multi-row-key upsert);
- RETRACTION: the new winner carries zero matches, so the episode's
  previously committed edges must DISAPPEAR (equality-delete tombstones),
  and with them its episode node and any concept only that episode
  referenced.

``derive_batch`` commits the ``edges`` table only: nodes and metrics are
derived from it at export.
"""

import glob
import uuid
from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import types as T

from llacie_spark.incremental import (
    EDGES,
    derive_batch,
    export_graph,
    maintain_graph,
    read_pending,
)
from llacie_spark.io import SnapshotCatalog
from llacie_spark.materialize import DEFAULT_BUCKETS, materialize_graph
from llacie_spark.pipeline import episode_triples

N_BUCKETS = 8

STAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("section_text", T.StringType()),
        T.StructField(
            "matches",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("label_name", T.StringType(), False),
                        T.StructField("line_number", T.LongType(), False),
                    ]
                )
            ),
        ),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("episode_id", T.LongType()),
        T.StructField("note_type", T.StringType()),
        T.StructField("date_of_service_ts", T.TimestampType()),
        T.StructField("episode_start_ts", T.TimestampType()),
        T.StructField("infection_criteria", T.BooleanType()),
        T.StructField("excl_st0_combined", T.BooleanType()),
    ]
)

T0 = datetime(3000, 1, 1, 0, 0, 0)


def _doc(doc_id, matches):
    spans = [("text", f"note {doc_id}", None, 0)]
    return (doc_id, spans, f"section {doc_id}", matches)


def _meta(doc_id, episode_id, minutes):
    return (
        doc_id, episode_id, "H&P",
        datetime(3000, 1, 1, minutes // 60, minutes % 60, 0), T0,
        True, False,
    )


@pytest.fixture()
def world(spark, tmp_path):
    """Staged docs + meta across two batches.

    ep1: d1(60min, fever+cough) then batch2 adds d2(30min, chills)
         -> displacement: edges become {chills}
    ep2: d3(60min, pain)        then batch2 adds d4(10min, [])
         -> retraction: zero edges; 'pain' referenced nowhere else
    ep3: d5(60min, fever)       untouched by batch2
    """
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    b1_docs = [
        _doc("d1", [("fever", 3), ("cough", 5)]),
        _doc("d3", [("pain", 2)]),
        _doc("d5", [("fever", 1)]),
    ]
    b2_docs = [
        _doc("d2", [("chills", 7)]),
        _doc("d4", []),
    ]
    meta_rows = [
        _meta("d1", 1, 60), _meta("d2", 1, 30),
        _meta("d3", 2, 60), _meta("d4", 2, 10),
        _meta("d5", 3, 60),
    ]
    meta = spark.createDataFrame(meta_rows, META_SCHEMA)
    return cat, spark.createDataFrame(b1_docs, STAGE_SCHEMA), \
        spark.createDataFrame(b2_docs, STAGE_SCHEMA), meta


def _ids(df_docs):
    return df_docs.select("doc_id")


def _stage(cat, spark, df):
    cat.upsert(spark, df, "extracted", "doc_id", n_buckets=4)


def _edges_set(cat, spark):
    df = cat.read_stage(spark, EDGES)
    if df is None:
        return set()
    return {(r.subj, r.obj, r.line_number) for r in df.collect()}


def _derive(spark, cat, ids, meta):
    """``derive_batch`` at the test bucket count, checking that it commits
    only the ``edges`` table and advances it by at most two commits (the
    upsert and the tombstones)."""
    before = (cat.current_snapshot(EDGES) or {"snapshot": -1})["snapshot"]
    stats = derive_batch(spark, cat, ids, meta, n_buckets=N_BUCKETS)
    after = (cat.current_snapshot(EDGES) or {"snapshot": -1})["snapshot"]
    assert after - before <= 2
    assert {p.name for p in cat.root.iterdir()} <= {"extracted", EDGES}
    return stats


def _freeze(v):
    return tuple(v) if isinstance(v, list) else v


def _read_graph(spark, out):
    """(nodes, edges, metrics) rows of a written graph, without the
    timestamp columns each derivation stamps with its own run time."""

    def rows(table, stamp=None):
        df = spark.read.parquet(f"{out}/{table}")
        cols = sorted(c for c in df.columns if c != stamp)
        return Counter(tuple(map(_freeze, r)) for r in df.select(*cols).collect())

    return rows("nodes"), rows("edges", "updated_at"), rows("metrics", "last_updated")


def _assert_matches_full(cat, spark, meta, n_buckets=N_BUCKETS):
    """The exported catalog graph equals ``materialize_graph`` over a full
    derivation of the WHOLE staged table — the ground truth."""
    out = cat.root.parent / f"compare-{uuid.uuid4().hex}"
    export_graph(spark, cat, str(out / "export"))
    full = episode_triples(cat.read_stage(spark, "extracted"), meta)
    materialize_graph(full, str(out / "full"), n_buckets=n_buckets)
    got_nodes, got_edges, got_metrics = _read_graph(spark, str(out / "export"))
    want_nodes, want_edges, want_metrics = _read_graph(spark, str(out / "full"))
    assert got_edges == want_edges
    assert got_nodes == want_nodes
    assert got_metrics == want_metrics


def _exported_node_ids(spark, cat, out):
    export_graph(spark, cat, str(out))
    return {r.node_id for r in spark.read.parquet(f"{out}/nodes").collect()}


def test_batches_match_full_derivation(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    _assert_matches_full(cat, spark, meta)
    e1 = _edges_set(cat, spark)
    assert ("episode:1", "concept:fever", 3) in e1
    assert ("episode:2", "concept:pain", 2) in e1

    _stage(cat, spark, b2)
    _derive(spark, cat, _ids(b2), meta)
    _assert_matches_full(cat, spark, meta)
    e2 = _edges_set(cat, spark)
    # displacement: d2 (30 min) beat d1 (60 min); ep1's old edges replaced
    assert ("episode:1", "concept:chills", 7) in e2
    assert not any(s == "episode:1" and o != "concept:chills" for s, o, _l in e2)
    # retraction: d4 (10 min, zero matches) won ep2 -> no ep2 edges at all
    assert not any(s == "episode:2" for s, _o, _l in e2)
    # untouched episode rides along
    assert ("episode:3", "concept:fever", 1) in e2


def test_retraction_drops_nodes_and_concepts(spark, world, tmp_path):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    nodes1 = _exported_node_ids(spark, cat, tmp_path / "g1")
    assert "episode:2" in nodes1 and "concept:pain" in nodes1

    _stage(cat, spark, b2)
    _derive(spark, cat, _ids(b2), meta)
    nodes2 = _exported_node_ids(spark, cat, tmp_path / "g2")
    assert "episode:2" not in nodes2          # episode node retracted
    assert "concept:pain" not in nodes2       # orphaned concept retracted
    assert "concept:chills" in nodes2 and "episode:1" in nodes2
    _assert_matches_full(cat, spark, meta)


def test_derive_batch_idempotent(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    _stage(cat, spark, b2)
    s1 = _derive(spark, cat, _ids(b2), meta)
    before = _edges_set(cat, spark)
    s2 = _derive(spark, cat, _ids(b2), meta)
    assert _edges_set(cat, spark) == before
    assert s1["episodes"] == s2["episodes"]
    _assert_matches_full(cat, spark, meta)


def test_maintenance_compacts_and_preserves(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    _stage(cat, spark, b2)
    _derive(spark, cat, _ids(b2), meta)
    before = _edges_set(cat, spark)
    maintain_graph(spark, cat, compact_min_deltas=1, vacuum_older_than_s=0)
    assert not (cat.current_snapshot(EDGES) or {}).get("deltas")
    assert _edges_set(cat, spark) == before
    _assert_matches_full(cat, spark, meta)


def test_first_seen_zero_triple_episode_writes_no_tombstone(spark, world):
    """A NEW episode whose first derivation yields zero triples has nothing
    committed to retract — it must not write a tombstone delta (every later
    read of its bucket would pay a no-op generation until compaction)."""
    cat, b1, _b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    deltas_before = dict(
        (cat.current_snapshot(EDGES) or {}).get("deltas") or {}
    )

    # a brand-new episode (99) arrives with zero matches
    new_doc = spark.createDataFrame([_doc("d99", [])], STAGE_SCHEMA)
    new_meta = meta.unionByName(
        spark.createDataFrame([_meta("d99", 99, 5)], META_SCHEMA)
    )
    _stage(cat, spark, new_doc)
    stats = _derive(spark, cat, _ids(new_doc), new_meta)
    assert stats == {"episodes": 1, "edges": 0, "retracted": 0}
    deltas_after = dict(
        (cat.current_snapshot(EDGES) or {}).get("deltas") or {}
    )
    assert deltas_after == deltas_before  # no data delta, no tombstone
    _assert_matches_full(cat, spark, new_meta)


def test_split_between_batches_preserves_derivation(spark, world):
    """Mid-sequence layout migration: between two derive batches BOTH the
    staged table and the edges table split buckets (extendible hashing).
    derive_batch's bucket-pruned reads of the stage (the episodes' docs)
    and of the edges (the subjects to retract) must keep working across
    the finer layout — a broken alignment here silently misses staged docs
    or committed edges, which no single-layout test can catch."""
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    _assert_matches_full(cat, spark, meta)

    # migrate: split every base bucket of the stage table and every
    # populated base bucket of the edges table (consumes pending deltas)
    cat.split_buckets(spark, "extracted", [0, 1, 2, 3])
    edge_bases = sorted(
        {b % N_BUCKETS for b, _m in cat._leaf_entries(cat.current_snapshot(EDGES))}
    )
    cat.split_buckets(spark, EDGES, edge_bases)
    assert cat.current_snapshot(EDGES)["bucket_mods"]  # finer layout live

    _stage(cat, spark, b2)
    _derive(spark, cat, _ids(b2), meta)
    _assert_matches_full(cat, spark, meta)
    e2 = _edges_set(cat, spark)
    assert ("episode:1", "concept:chills", 7) in e2   # displacement survived
    assert not any(s == "episode:2" for s, _o, _l in e2)  # retraction survived


def test_derive_batch_refuses_a_second_bucket_count(spark, world):
    """``subj_bucket`` is hashed at the batch's ``n_buckets``: a batch at
    another count would mix two bucketings in one edges table, so it is
    refused before anything commits."""
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    snap = cat.current_snapshot(EDGES)["snapshot"]
    _stage(cat, spark, b2)
    with pytest.raises(ValueError, match="subj_bucket must stay consistent"):
        derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS * 2)
    assert cat.current_snapshot(EDGES)["snapshot"] == snap


def test_export_matches_materialize_layout(spark, world, tmp_path, forbid_parquet_reads):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    _stage(cat, spark, b2)
    _derive(spark, cat, _ids(b2), meta)
    out = str(tmp_path / "graph")
    with forbid_parquet_reads(out):  # written once, never read back
        stats = export_graph(spark, cat, out)
    edges = spark.read.parquet(f"{out}/edges")
    assert stats["edges"] == edges.count()
    assert stats["nodes"] == spark.read.parquet(f"{out}/nodes").count()
    assert stats["partitions"] == spark.read.parquet(f"{out}/metrics").count()
    for leaf in glob.glob(f"{out}/edges/pred=*/subj_bucket=*"):
        assert len(glob.glob(f"{leaf}/*.parquet")) == 1, leaf
    # partition layout: pred + subj_bucket survive the directory round-trip
    assert {"pred", "subj_bucket"} <= set(edges.columns)
    nodes = {r.node_id for r in spark.read.parquet(f"{out}/nodes").collect()}
    assert "episode:1" in nodes and "episode:2" not in nodes


def test_empty_batch_is_cheap_noop(spark, world):
    cat, b1, _b2, meta = world
    _stage(cat, spark, b1)
    _derive(spark, cat, _ids(b1), meta)
    before = _edges_set(cat, spark)
    empty = spark.createDataFrame([], "doc_id string")
    stats = _derive(spark, cat, empty, meta)
    assert stats == {"episodes": 0, "edges": 0, "retracted": 0}
    assert _edges_set(cat, spark) == before


def test_pending_log_survives_extract_derive_crash(spark, world, tmp_path):
    """The extract→derive crash window: a batch whose extraction committed
    but whose derivation never ran stays in the pending log; the NEXT
    invocation derives the union (crashed + new) and converges to full."""
    from llacie_spark.incremental import (
        clear_pending,
        read_pending,
        record_pending,
    )

    cat, b1, b2, meta = world
    root = str(tmp_path / "stage")
    # batch 1: normal lifecycle — record, stage, derive, clear
    record_pending(_ids(b1), root)
    _stage(cat, spark, b1)
    pending, consumed = read_pending(spark, root)
    _derive(spark, cat, pending, meta)
    clear_pending(consumed)
    assert read_pending(spark, root) == (None, [])
    # batch 2: extraction commits, then the process "dies" before deriving
    record_pending(_ids(b2), root)
    _stage(cat, spark, b2)
    # ...crash: no derive, no clear. Recovery invocation (no new docs):
    pending, consumed = read_pending(spark, root)
    assert pending is not None
    assert {r.doc_id for r in pending.collect()} == {"d2", "d4"}
    _derive(spark, cat, pending, meta)
    clear_pending(consumed)
    _assert_matches_full(cat, spark, meta)


def test_clear_pending_spares_unconsumed_entries(spark, world, tmp_path):
    from llacie_spark.incremental import read_pending, record_pending, clear_pending

    cat, b1, b2, _meta = world
    root = str(tmp_path / "stage")
    record_pending(_ids(b1), root)
    _p, consumed = read_pending(spark, root)
    record_pending(_ids(b2), root)  # recorded AFTER the read
    clear_pending(consumed)
    pending, left = read_pending(spark, root)
    assert len(left) == 1
    assert {r.doc_id for r in pending.collect()} == {"d2", "d4"}


def _log(cat):
    return str(cat.root.parent / "log")


def _pending(spark, cat, meta, ids=None):
    """``derive_pending`` as ``run_kg`` runs it (default bucket count),
    after logging ``ids``; the pending log sits beside the catalog."""
    from llacie_spark.incremental import derive_pending, record_pending

    if ids is not None:
        record_pending(ids, _log(cat))
    return derive_pending(spark, cat, _log(cat), meta)


def test_derive_all_derives_whole_stage_as_first_snapshot(spark, world):
    """With no committed ``edges`` table (a first run, or a root staged
    before the table existed) ``derive_pending`` derives every staged doc,
    including those no pending log names, as the table's first snapshot:
    no delta, no tombstone. Later batches then go through
    ``derive_batch``."""
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _stage(cat, spark, b2)
    stats = _pending(spark, cat, meta)
    assert stats == {"episodes": 3, "edges": 2, "retracted": 0, "uncovered": 0}
    assert not cat.current_snapshot(EDGES).get("deltas")
    assert read_pending(spark, _log(cat)) == (None, [])
    _assert_matches_full(cat, spark, meta, DEFAULT_BUCKETS)
    _pending(spark, cat, meta, _ids(b2))  # idempotent on top
    _assert_matches_full(cat, spark, meta, DEFAULT_BUCKETS)


def test_first_run_logs_staged_docs_its_meta_misses(spark, world):
    """A root staged before the ``edges`` table existed, first derived by a
    run whose doc metadata covers only part of the stage: the docs it
    misses go to the pending log, and a later run that covers them
    re-derives their episodes (here a displacement and a retraction), so
    the graph ends equal to a full derivation."""
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    _stage(cat, spark, b2)
    part = meta.join(_ids(b1), "doc_id", "semi")
    assert _pending(spark, cat, part)["uncovered"] == 2
    _assert_matches_full(cat, spark, part, DEFAULT_BUCKETS)
    pending, _ = read_pending(spark, _log(cat))
    assert {r.doc_id for r in pending.collect()} == {"d2", "d4"}

    stats = _pending(spark, cat, meta)
    assert stats["uncovered"] == 0 and stats["retracted"] == 1
    assert read_pending(spark, _log(cat)) == (None, [])
    _assert_matches_full(cat, spark, meta, DEFAULT_BUCKETS)


def test_export_without_edges_table_writes_empty_graph(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    stats = export_graph(spark, cat, str(tmp_path / "graph"))
    assert (stats["nodes"], stats["edges"], stats["partitions"]) == (0, 0, 0)


def test_derive_all_with_no_edges_then_batches(spark, world, tmp_path):
    """A first derivation that yields no edge commits an empty ``edges``
    table; the export is an empty graph and later batches derive on top."""
    cat, b1, b2, meta = world
    _stage(cat, spark, b2.where("doc_id = 'd4'"))  # ep2's zero-match winner
    assert _pending(spark, cat, meta)["edges"] == 0
    assert export_graph(spark, cat, str(tmp_path / "g0"))["edges"] == 0
    _stage(cat, spark, b1)
    _pending(spark, cat, meta, _ids(b1))
    _assert_matches_full(cat, spark, meta, DEFAULT_BUCKETS)
