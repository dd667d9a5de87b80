"""Merge-on-read upsert path for the snapshot catalog (VERDICT r5
next-round #2).

Copy-on-write rewrote every touched bucket in full; a uniformly-hashed
250k-doc batch touched all buckets, making upsert+maintenance 90% of the
1M-doc lifecycle wall (BENCH/LIFECYCLE.md). These tests pin the MoR
contract:

- write cost is O(batch): base files of touched buckets are NOT rewritten
  (byte-identical after a MoR upsert);
- reads are equivalent to CoW for any interleaving, including multi-row
  keys (the edges-table shape), repeated keys, and schema evolution;
- compaction folds deltas into the base, reads unchanged, deltas cleared;
- splits consume deltas (merged rows fan into children, children born
  delta-free);
- vacuum never reclaims a live delta snapshot;
- the CoW path folds pending deltas in when it rewrites a bucket.
"""

import pytest
from pyspark.sql import functions as F

from llacie_spark.io import SnapshotCatalog


def _sorted_rows(cat, spark, name="t"):
    df = cat.read_stage(spark, name)
    return sorted((r.id, r.v) for r in df.collect())


def _base_files(cat, name="t"):
    """(path, size, mtime) of every parquet file referenced as a BASE."""
    cur = cat.current_snapshot(name)
    out = {}
    for entry, snap in cur["buckets"].items():
        for f in cat._entry_path(name, snap, entry).glob("*.parquet"):
            st = f.stat()
            out[str(f)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.fixture()
def pair(spark, tmp_path):
    """Twin tables with identical content: 'cow' and 'mor'."""
    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 200).withColumn("v", F.lit("base"))
    cat.write_stage(base, "cow", bucket_key="id", n_buckets=8)
    cat.write_stage(base, "mor", bucket_key="id", n_buckets=8)
    return cat


def _twin_rows(cat, spark):
    cow = sorted((r.id, r.v) for r in cat.read_stage(spark, "cow").collect())
    mor = sorted((r.id, r.v) for r in cat.read_stage(spark, "mor").collect())
    return cow, mor


def test_mor_read_equivalent_to_cow(spark, pair):
    cat = pair
    b1 = spark.createDataFrame([(1, "x"), (300, "x")], "id long, v string")
    b2 = spark.createDataFrame([(1, "y"), (2, "y"), (400, "y")], "id long, v string")
    for name, mor in (("cow", False), ("mor", True)):
        cat.upsert(spark, b1, name, "id", merge_on_read=mor)
        cat.upsert(spark, b2, name, "id", merge_on_read=mor)
    cow, mor = _twin_rows(cat, spark)
    assert cow == mor
    d = dict(mor)
    assert d[1] == "y" and d[300] == "x" and d[400] == "y" and d[0] == "base"


def test_mor_does_not_rewrite_base_files(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 1000).withColumn("v", F.lit("base"))
    cat.write_stage(base, "t", bucket_key="id", n_buckets=8)
    before = _base_files(cat)
    # a batch whose keys hash into EVERY bucket — the uniform worst case
    # that forced CoW into ~a full table rewrite
    batch = spark.range(0, 1000, 7).withColumn("v", F.lit("u"))
    cat.upsert(spark, batch, "t", "id", merge_on_read=True)
    after = _base_files(cat)
    assert before == after  # zero base bytes rewritten: write IO = O(batch)
    cur = cat.current_snapshot("t")
    assert cur["deltas"] and all(len(v) == 1 for v in cur["deltas"].values())
    # and the read still resolves newest-generation-wins
    got = dict(_sorted_rows(cat, spark))
    assert got[0] == "u" and got[7] == "u" and got[1] == "base"
    assert len(got) == 1000


def test_cow_uniform_batch_rewrites_every_bucket_mor_writes_the_batch(spark, pair):
    """The write-amplification gap MoR exists for: a batch whose keys hash
    into every bucket makes CoW rewrite the whole table, while MoR writes
    only the batch's rows."""
    cat = pair
    batch = spark.range(0, 200, 5).withColumn("v", F.lit("u"))
    mor_base = _base_files(cat, "mor")
    cat.upsert(spark, batch, "cow", "id")
    cat.upsert(spark, batch, "mor", "id", merge_on_read=True)

    def rows_in(name, snaps):
        return spark.read.parquet(*(str(cat.root / name / s) for s in snaps)).count()

    cow = cat.current_snapshot("cow")
    cow_new = set(cow["buckets"].values()) - {"snap-0"}
    assert len(cow["buckets"]) == 8 and set(cow["buckets"].values()) == cow_new
    assert rows_in("cow", cow_new) == 200  # every row rewritten
    mor = cat.current_snapshot("mor")
    assert len(mor["deltas"]) == 8  # every bucket touched ...
    assert _base_files(cat, "mor") == mor_base  # ... no base rewritten
    delta_snaps = {s for v in mor["deltas"].values() for s in v}
    assert rows_in("mor", delta_snaps) == batch.count()  # only the batch
    cow_rows, mor_rows = _twin_rows(cat, spark)
    assert cow_rows == mor_rows


def test_mor_multirow_keys_replaced_as_a_set(spark, tmp_path):
    # the edges-table shape: many rows per key; an upsert replaces the
    # key's whole row set (old rows gone even when the new set is smaller)
    cat = SnapshotCatalog(str(tmp_path))
    old = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "z")], "id long, v string"
    )
    cat.write_stage(old, "t", bucket_key="id", n_buckets=4)
    new = spark.createDataFrame([(1, "d"), (1, "e")], "id long, v string")
    cat.upsert(spark, new, "t", "id", merge_on_read=True)
    assert _sorted_rows(cat, spark) == [(1, "d"), (1, "e"), (2, "z")]


def test_mor_first_touch_writes_base_not_delta(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.createDataFrame([(0, "base")], "id long, v string"),
        "t", bucket_key="id", n_buckets=4,
    )
    # keys landing in previously-empty buckets become bases; re-hitting
    # them becomes a delta
    batch = spark.range(0, 40).withColumn("v", F.lit("n"))
    cat.upsert(spark, batch, "t", "id", merge_on_read=True)
    cur = cat.current_snapshot("t")
    delta_count = sum(len(v) for v in (cur.get("deltas") or {}).values())
    assert len(cur["buckets"]) == 4 and delta_count <= 1
    assert len(_sorted_rows(cat, spark)) == 40


def test_compact_folds_deltas_and_vacuum_reclaims(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 200).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    for tag in ("a", "b", "c"):
        cat.upsert(
            spark,
            spark.range(0, 200, 5).withColumn("v", F.lit(tag)),
            "t", "id", merge_on_read=True,
        )
    before = _sorted_rows(cat, spark)
    cur = cat.current_snapshot("t")
    assert all(len(v) == 3 for v in cur["deltas"].values())
    # delta snaps are live: vacuum must not reclaim them pre-compaction
    delta_snaps = {s for v in cur["deltas"].values() for s in v}
    assert not (set(cat.vacuum("t")) & delta_snaps)
    assert _sorted_rows(cat, spark) == before

    compacted = cat.compact(spark, "t")
    assert sorted(compacted) == sorted(cur["deltas"].keys())
    cur2 = cat.current_snapshot("t")
    assert not cur2.get("deltas")
    assert _sorted_rows(cat, spark) == before
    # post-compaction the old generations ARE reclaimable
    assert set(cat.vacuum("t")) >= delta_snaps


def test_compact_min_deltas_threshold(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 100).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    cat.upsert(
        spark, spark.range(0, 100, 3).withColumn("v", F.lit("d1")),
        "t", "id", merge_on_read=True,
    )
    assert cat.compact(spark, "t", min_deltas=2) == []  # below threshold
    assert cat.current_snapshot("t")["deltas"]
    assert cat.compact(spark, "t", min_deltas=1)
    assert not cat.current_snapshot("t").get("deltas")


def test_split_consumes_deltas(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 400).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    cat.upsert(
        spark, spark.range(0, 400, 3).withColumn("v", F.lit("d")),
        "t", "id", merge_on_read=True,
    )
    before = _sorted_rows(cat, spark)
    cur = cat.current_snapshot("t")
    assert cur["deltas"]
    split_base = int(next(iter(cur["deltas"])).split("@")[0]) % 4
    cat.split_buckets(spark, "t", [split_base])
    cur2 = cat.current_snapshot("t")
    canon = [
        k for k in (cur2.get("deltas") or {})
        if int(k.split("@")[0]) % 4 == split_base
    ]
    assert not canon  # the split bucket's deltas were consumed
    assert cur2["bucket_mods"][str(split_base)] == 8
    assert _sorted_rows(cat, spark) == before


def test_cow_upsert_folds_pending_deltas(spark, tmp_path):
    # a CoW rewrite of a bucket with pending deltas must merge them in —
    # reading only the base would silently drop every delta-generation row
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 100).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=2,
    )
    cat.upsert(
        spark,
        spark.createDataFrame([(1, "delta"), (2, "delta")], "id long, v string"),
        "t", "id", merge_on_read=True,
    )
    cat.upsert(
        spark,
        spark.range(0, 100).select(
            F.col("id"), F.lit("cow").alias("v")
        ).where("id >= 50"),
        "t", "id", merge_on_read=False,
    )
    got = dict(_sorted_rows(cat, spark))
    assert got[50] == "cow" and got[0] == "base"
    # delta rows in buckets the CoW batch touched survived the rewrite
    assert got[1] == "delta" and got[2] == "delta"
    # and those buckets' delta lists are cleared (the rewrite compacted them)
    cur = cat.current_snapshot("t")
    assert not cur.get("deltas")


def test_mor_schema_evolution(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 50).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    batch = (
        spark.range(0, 50, 5)
        .withColumn("v", F.lit("n"))
        .withColumn("extra", F.lit(7).cast("int"))
    )
    cat.upsert(spark, batch, "t", "id", merge_on_read=True, allow_new_columns=True)
    df = cat.read_stage(spark, "t")
    got = {r.id: (r.v, r.extra) for r in df.collect()}
    assert got[0] == ("n", 7) and got[1] == ("base", None)
    # survives compaction too
    cat.compact(spark, "t")
    got2 = {r.id: (r.v, r.extra) for r in cat.read_stage(spark, "t").collect()}
    assert got2 == got


def test_unfinished_sees_through_deltas(spark, tmp_path):
    # anti-join work discovery must observe MoR-committed rows as done
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 10).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=2,
    )
    cat.upsert(
        spark, spark.range(10, 20).withColumn("v", F.lit("d")),
        "t", "id", merge_on_read=True,
    )
    todo = cat.unfinished(spark, spark.range(0, 25).select("id"), "t", "id")
    assert sorted(r.id for r in todo.collect()) == list(range(20, 25))


# ---------------------------------------------------------------- tombstones
# Equality deletes (Iceberg delete files): delete_keys writes key-only
# TOMBSTONE deltas; a key whose newest generation is a tombstone yields no
# rows. This is the retract path incremental derivation needs (an episode
# recomputed to zero edges must remove its previously-committed edges).


def test_delete_keys_tombstone_basic(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 100).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    before = _base_files(cat)
    cat.delete_keys(spark.range(0, 100, 10).select("id"), "t")
    assert _base_files(cat) == before  # O(keys) write: no base rewritten
    cur = cat.current_snapshot("t")
    assert any(
        isinstance(d, dict) and d.get("tombstone")
        for v in cur["deltas"].values()
        for d in v
    )
    got = sorted(r.id for r in cat.read_stage(spark, "t").collect())
    assert got == [i for i in range(100) if i % 10 != 0]


def test_delete_then_reinsert_newest_wins(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        "t", bucket_key="id", n_buckets=2,
    )
    cat.delete_keys(spark.createDataFrame([(1,)], "id long"), "t")
    assert _sorted_rows(cat, spark) == [(2, "b")]
    cat.upsert(
        spark, spark.createDataFrame([(1, "back")], "id long, v string"),
        "t", "id", merge_on_read=True,
    )
    assert _sorted_rows(cat, spark) == [(1, "back"), (2, "b")]
    # and the reverse order: upsert then delete -> gone
    cat.delete_keys(spark.createDataFrame([(1,)], "id long"), "t")
    assert _sorted_rows(cat, spark) == [(2, "b")]


def test_delete_multirow_key_removes_row_set(spark, tmp_path):
    # edges-table shape: one tombstone retracts every row of the key
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (2, "z")], "id long, v string"
        ),
        "t", bucket_key="id", n_buckets=2,
    )
    cat.delete_keys(spark.createDataFrame([(1,)], "id long"), "t")
    assert _sorted_rows(cat, spark) == [(2, "z")]


def test_compact_folds_tombstones(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 100).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    cat.delete_keys(spark.range(0, 100, 3).select("id"), "t")
    before = _sorted_rows(cat, spark)
    assert cat.compact(spark, "t")
    cur = cat.current_snapshot("t")
    assert not cur.get("deltas")
    assert _sorted_rows(cat, spark) == before
    # deleted keys stay gone through a further CoW upsert of other keys
    cat.upsert(
        spark, spark.createDataFrame([(1, "u")], "id long, v string"),
        "t", "id", merge_on_read=False,
    )
    got = {r[0] for r in _sorted_rows(cat, spark)}
    assert 0 not in got and 3 not in got and 1 in got


def test_compact_drops_fully_tombstoned_bucket(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 40).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=2,
    )
    # delete EVERY key -> both buckets empty after compaction
    cat.delete_keys(spark.range(0, 40).select("id"), "t")
    assert _sorted_rows(cat, spark) == []
    cat.compact(spark, "t")
    cur = cat.current_snapshot("t")
    assert not cur.get("deltas")
    assert not cur.get("buckets")  # emptied buckets dropped from manifest
    df = cat.read_stage(spark, "t")
    assert df is None or df.count() == 0
    # the table is still writable afterwards
    cat.upsert(
        spark, spark.createDataFrame([(7, "n")], "id long, v string"),
        "t", "id", merge_on_read=True,
    )
    assert _sorted_rows(cat, spark) == [(7, "n")]


def test_cow_upsert_folds_tombstones(spark, tmp_path):
    # a CoW rewrite of a bucket carrying tombstones must keep the deletions
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 20).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=1,
    )
    cat.delete_keys(spark.createDataFrame([(3,), (4,)], "id long"), "t")
    cat.upsert(
        spark, spark.createDataFrame([(5, "cow")], "id long, v string"),
        "t", "id", merge_on_read=False,
    )
    got = {r[0] for r in _sorted_rows(cat, spark)}
    assert 3 not in got and 4 not in got and 5 in got and len(got) == 18
    assert not cat.current_snapshot("t").get("deltas")


def test_split_consumes_tombstones(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 200).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=2,
    )
    cat.delete_keys(spark.range(0, 200, 4).select("id"), "t")
    before = _sorted_rows(cat, spark)
    cat.split_buckets(spark, "t", [0, 1])
    cur = cat.current_snapshot("t")
    assert not cur.get("deltas")  # consumed: children born clean
    assert _sorted_rows(cat, spark) == before


def test_delete_keys_dtype_drift_raises(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 10).withColumn("v", F.lit("x")),
        "t", bucket_key="id", n_buckets=2,
    )
    drifted = spark.createDataFrame([("3",)], "id string")
    with pytest.raises(ValueError, match="dtype drift"):
        cat.delete_keys(drifted, "t")


def test_vacuum_keeps_live_tombstone_snaps(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 50).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=2,
    )
    cat.delete_keys(spark.range(0, 50, 5).select("id"), "t")
    cur = cat.current_snapshot("t")
    tomb_snaps = {
        d["snap"] for v in cur["deltas"].values() for d in v
        if isinstance(d, dict)
    }
    assert tomb_snaps
    assert not (set(cat.vacuum("t")) & tomb_snaps)
    got = sorted(r.id for r in cat.read_stage(spark, "t").collect())
    assert got == [i for i in range(50) if i % 5 != 0]


# ------------------------------------------------------------- pruned reads
# read_stage_pruned: the catalog-layout analog of bucket-transform partition
# pruning — scan only the leaves a key set hashes into. This is what keeps
# per-batch incremental derivation IO proportional to the touched buckets.


def test_read_stage_pruned_is_superset_and_partial(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 400).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=8,
    )
    keys = spark.createDataFrame([(3,), (17,)], "id long")
    pruned = cat.read_stage_pruned(spark, "t", keys_df=keys)
    got = {r.id for r in pruned.collect()}
    assert {3, 17} <= got           # contains the keys' rows
    assert len(got) < 400           # ... and skipped most buckets
    # every returned row belongs to a bucket one of the keys hashes into
    full = cat.read_stage(spark, "t")
    assert got == {
        r.id for r in full.collect()
    } - {r.id for r in full.join(pruned, "id", "left_anti").collect()}


def test_read_stage_pruned_sees_deltas_and_tombstones(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 100).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    cat.upsert(
        spark, spark.createDataFrame([(7, "new")], "id long, v string"),
        "t", "id", merge_on_read=True,
    )
    cat.delete_keys(spark.createDataFrame([(9,)], "id long"), "t")
    keys = spark.createDataFrame([(7,), (9,)], "id long")
    pruned = cat.read_stage_pruned(spark, "t", keys_df=keys)
    got = {r.id: r.v for r in pruned.collect()}
    assert got.get(7) == "new"      # MoR delta resolved in the pruned scan
    assert 9 not in got             # tombstone resolved in the pruned scan


def test_read_stage_pruned_dtype_drift_raises(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 10).withColumn("v", F.lit("x")),
        "t", bucket_key="id", n_buckets=2,
    )
    with pytest.raises(ValueError, match="dtype drift"):
        cat.read_stage_pruned(
            spark, "t", keys_df=spark.createDataFrame([("1",)], "id string")
        )


def test_compact_retries_past_concurrent_delta_commit(spark, tmp_path):
    """Maintenance runs beside the delta writers it serves: a micro-batch
    committing between compact's manifest read and its CAS publish must
    cost a retry, not crash the maintenance job — and the retry must fold
    the interloper's generation too (it re-reads the manifest)."""
    from llacie_spark.io import CommitConflict

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 100).withColumn("v", F.lit("base")),
        "t", bucket_key="id", n_buckets=4,
    )
    cat.upsert(
        spark, spark.range(0, 100, 7).withColumn("v", F.lit("d1")),
        "t", "id", merge_on_read=True,
    )
    interloper = spark.range(1, 100, 7).withColumn("v", F.lit("d2"))
    cat._commit_hook = lambda: cat.upsert(
        spark, interloper, "t", "id", merge_on_read=True
    )
    with pytest.raises(CommitConflict):
        cat.compact(spark, "t")  # no retries: the conflict surfaces

    # hook consumed itself; re-arm and retry-compact
    cat._commit_hook = lambda: cat.upsert(
        spark, interloper, "t", "id", merge_on_read=True
    )
    compacted = cat.compact(spark, "t", commit_retries=2)
    assert compacted
    cur = cat.current_snapshot("t")
    assert not cur.get("deltas")  # the retry folded BOTH generations
    rows = dict(_sorted_rows(cat, spark))
    assert len(rows) == 100
    assert rows[0] == "d1" and rows[1] == "d2" and rows[2] == "base"
