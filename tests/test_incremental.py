"""Batch-incremental graph derivation (VERDICT r6 directive #1).

The contract: after any sequence of batches, the four catalog graph tables
equal what full derivation over the whole staged table would produce —
including the two hard cases full-table recompute gets for free:

- WINNER DISPLACEMENT: a later batch adds an earlier qualifying note to an
  existing episode; the episode's edges must be REPLACED (merge-on-read
  multi-row-key upsert);
- RETRACTION: the new winner carries zero matches, so the episode's
  previously committed edges must DISAPPEAR (equality-delete tombstones),
  its episode node must drop, and a concept referenced only by that episode
  must drop from the concept nodes.
"""

import glob
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llacie_spark.incremental import (
    CONCEPT_NODES,
    EDGE_METRICS,
    EDGES,
    EPISODE_NODES,
    derive_batch,
    export_graph,
    maintain_graph,
)
from llacie_spark.io import SnapshotCatalog
from llacie_spark.materialize import (
    build_edges,
    build_nodes,
    edge_partition_metrics,
)
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


def _full_reference(cat, spark, meta):
    """Full derivation over the WHOLE staged table — the ground truth."""
    staged = cat.read_stage(spark, "extracted")
    triples = episode_triples(staged, meta)
    edges = build_edges(triples, N_BUCKETS)
    nodes = build_nodes(triples)
    metrics = edge_partition_metrics(edges)
    return edges, nodes, metrics


def _assert_matches_full(cat, spark, meta):
    ref_edges, ref_nodes, ref_metrics = _full_reference(cat, spark, meta)
    got_edges = cat.read_stage(spark, EDGES)
    ecols = [c for c in ref_edges.columns if c != "updated_at"]
    want = {tuple(r) for r in ref_edges.select(*ecols).collect()}
    got = (
        set()
        if got_edges is None
        else {tuple(r) for r in got_edges.select(*ecols).collect()}
    )
    assert got == want
    ep = cat.read_stage(spark, EPISODE_NODES)
    cn = cat.read_stage(spark, CONCEPT_NODES)
    got_nodes = set()
    for df in (ep, cn):
        if df is not None:
            got_nodes |= {tuple(r) for r in df.select("node_id", "kind", "name").collect()}
    want_nodes = {tuple(r) for r in ref_nodes.collect()}
    assert got_nodes == want_nodes
    mcols = [c for c in ref_metrics.columns if c != "last_updated"]
    got_m = cat.read_stage(spark, EDGE_METRICS)
    want_m = {tuple(map(_freeze, r)) for r in ref_metrics.select(*mcols).collect()}
    got_mset = (
        set()
        if got_m is None
        else {tuple(map(_freeze, r)) for r in got_m.select(*mcols).collect()}
    )
    assert got_mset == want_m


def _freeze(v):
    return tuple(v) if isinstance(v, list) else v


def test_batches_match_full_derivation(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    _assert_matches_full(cat, spark, meta)
    e1 = _edges_set(cat, spark)
    assert ("episode:1", "concept:fever", 3) in e1
    assert ("episode:2", "concept:pain", 2) in e1

    _stage(cat, spark, b2)
    derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
    _assert_matches_full(cat, spark, meta)
    e2 = _edges_set(cat, spark)
    # displacement: d2 (30 min) beat d1 (60 min); ep1's old edges replaced
    assert ("episode:1", "concept:chills", 7) in e2
    assert not any(s == "episode:1" and o != "concept:chills" for s, o, _l in e2)
    # retraction: d4 (10 min, zero matches) won ep2 -> no ep2 edges at all
    assert not any(s == "episode:2" for s, _o, _l in e2)
    # untouched episode rides along
    assert ("episode:3", "concept:fever", 1) in e2


def test_retraction_drops_nodes_and_concepts(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    nodes1 = {r.node_id for r in cat.read_stage(spark, EPISODE_NODES).collect()}
    conc1 = {r.node_id for r in cat.read_stage(spark, CONCEPT_NODES).collect()}
    assert "episode:2" in nodes1 and "concept:pain" in conc1

    _stage(cat, spark, b2)
    derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
    nodes2 = {r.node_id for r in cat.read_stage(spark, EPISODE_NODES).collect()}
    conc2 = {r.node_id for r in cat.read_stage(spark, CONCEPT_NODES).collect()}
    assert "episode:2" not in nodes2          # episode node retracted
    assert "concept:pain" not in conc2        # orphaned concept retracted
    assert "concept:chills" in conc2 and "episode:1" in nodes2


def test_derive_batch_idempotent(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    _stage(cat, spark, b2)
    s1 = derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
    before = _edges_set(cat, spark)
    s2 = derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
    assert _edges_set(cat, spark) == before
    assert s1["episodes"] == s2["episodes"]
    _assert_matches_full(cat, spark, meta)


def test_maintenance_compacts_and_preserves(spark, world):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    _stage(cat, spark, b2)
    derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
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
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    deltas_before = dict(
        (cat.current_snapshot(EDGES) or {}).get("deltas") or {}
    )

    # a brand-new episode (99) arrives with zero matches
    new_doc = spark.createDataFrame([_doc("d99", [])], STAGE_SCHEMA)
    new_meta = meta.unionByName(
        spark.createDataFrame([_meta("d99", 99, 5)], META_SCHEMA)
    )
    _stage(cat, spark, new_doc)
    stats = derive_batch(spark, cat, _ids(new_doc), new_meta, n_buckets=N_BUCKETS)
    assert stats == {
        "episodes": 1, "edges": 0, "retracted": 0, "metric_buckets": 0,
    }
    deltas_after = dict(
        (cat.current_snapshot(EDGES) or {}).get("deltas") or {}
    )
    assert deltas_after == deltas_before  # no data delta, no tombstone
    _assert_matches_full(cat, spark, new_meta)


def test_split_between_batches_preserves_derivation(spark, world):
    """Mid-sequence layout migration: between two derive batches BOTH the
    staged table and the edges table split buckets (extendible hashing).
    derive_batch's bucket-pruned stage read and its metric-bucket
    leaf-refinement (leaf b at modulus m belongs to base bucket b % base)
    must keep working across the finer layout — a broken alignment here
    silently recomputes metrics for the wrong buckets or misses staged
    docs, which no single-layout test can catch."""
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
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
    derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
    _assert_matches_full(cat, spark, meta)
    e2 = _edges_set(cat, spark)
    assert ("episode:1", "concept:chills", 7) in e2   # displacement survived
    assert not any(s == "episode:2" for s, _o, _l in e2)  # retraction survived


def test_export_matches_materialize_layout(spark, world, tmp_path, forbid_parquet_reads):
    cat, b1, b2, meta = world
    _stage(cat, spark, b1)
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    _stage(cat, spark, b2)
    derive_batch(spark, cat, _ids(b2), meta, n_buckets=N_BUCKETS)
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
    derive_batch(spark, cat, _ids(b1), meta, n_buckets=N_BUCKETS)
    before = _edges_set(cat, spark)
    empty = spark.createDataFrame([], "doc_id string")
    stats = derive_batch(spark, cat, empty, meta, n_buckets=N_BUCKETS)
    assert stats == {
        "episodes": 0, "edges": 0, "retracted": 0, "metric_buckets": 0,
    }
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
    derive_batch(spark, cat, pending, meta, n_buckets=N_BUCKETS)
    clear_pending(consumed)
    assert read_pending(spark, root) == (None, [])
    # batch 2: extraction commits, then the process "dies" before deriving
    record_pending(_ids(b2), root)
    _stage(cat, spark, b2)
    # ...crash: no derive, no clear. Recovery invocation (no new docs):
    pending, consumed = read_pending(spark, root)
    assert pending is not None
    assert {r.doc_id for r in pending.collect()} == {"d2", "d4"}
    derive_batch(spark, cat, pending, meta, n_buckets=N_BUCKETS)
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
