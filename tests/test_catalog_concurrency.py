"""Optimistic-concurrency commits + additive schema evolution on the
snapshot catalog (VERDICT r4 next-round #1 and #6).

The conflict tests inject a competing commit through the catalog's
``_commit_hook`` test seam: it fires at the top of ``_publish`` — after the
outer writer has written its data files but before its compare-and-swap —
which is exactly the interleaving where the pre-r5 implementation silently
discarded the inner winner's bucket pointers."""

import pytest
from pyspark.sql import functions as F

from llacie_spark.io import CommitConflict, SnapshotCatalog


def _rows(cat, spark):
    return {r.id: r.v for r in cat.read_stage(spark, "t").collect()}


@pytest.fixture()
def cat(spark, tmp_path):
    c = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 100).withColumn("v", F.lit("base"))
    c.write_stage(base, "t", bucket_key="id", n_buckets=8)
    return c


def test_concurrent_upsert_loser_raises_and_retry_lands_both(spark, tmp_path, cat):
    batch_a = spark.createDataFrame([(1, "A"), (200, "A")], "id long, v string")
    batch_b = spark.createDataFrame([(2, "B"), (300, "B")], "id long, v string")

    cat._commit_hook = lambda: cat.upsert(spark, batch_b, "t", "id")
    with pytest.raises(CommitConflict):
        cat.upsert(spark, batch_a, "t", "id")

    # the winner's (B's) commit is intact — NOT silently overwritten: that
    # was the last-writer-wins row-loss path this CAS exists to close
    got = _rows(cat, spark)
    assert got[2] == "B" and got[300] == "B"
    assert 200 not in got  # the loser's batch is NOT partially visible

    # the loser's reserved snapshot dir is an orphan; vacuum reclaims it
    manifest = cat.current_snapshot("t")
    live = {f"snap-{manifest['snapshot']}"} | set(manifest["buckets"].values())
    orphans = cat.vacuum("t")
    assert orphans and not (set(orphans) & live)

    # a plain retry re-runs the merge against the winner's snapshot: both
    # writers' batches land, nothing from either is lost
    cat.upsert(spark, batch_a, "t", "id")
    got = _rows(cat, spark)
    assert got[1] == "A" and got[200] == "A"
    assert got[2] == "B" and got[300] == "B"
    assert got[0] == "base" and len(got) == 102


def test_commit_retries_auto_recovers(spark, tmp_path, cat):
    batch_a = spark.createDataFrame([(1, "A"), (200, "A")], "id long, v string")
    batch_b = spark.createDataFrame([(2, "B"), (300, "B")], "id long, v string")

    # the hook self-clears after firing, so only attempt 1 conflicts
    cat._commit_hook = lambda: cat.upsert(spark, batch_b, "t", "id")
    cat.upsert(spark, batch_a, "t", "id", commit_retries=2)
    got = _rows(cat, spark)
    assert got[1] == "A" and got[200] == "A"
    assert got[2] == "B" and got[300] == "B"
    assert len(got) == 102


def test_write_stage_conflict_raises(spark, tmp_path, cat):
    v2 = spark.range(0, 5).withColumn("v", F.lit("v2"))
    other = spark.range(0, 5).withColumn("v", F.lit("other"))
    cat._commit_hook = lambda: cat.write_stage(
        other, "t", bucket_key="id", n_buckets=8
    )
    with pytest.raises(CommitConflict):
        cat.write_stage(v2, "t", bucket_key="id", n_buckets=8)
    assert set(_rows(cat, spark).values()) == {"other"}


def test_concurrent_attempts_never_share_a_snapshot_dir(spark, tmp_path, cat):
    """mkdir-reservation: the competing commit lands in a DIFFERENT snap dir
    than the one the outer writer already wrote files into, so the winner's
    committed files can never be clobbered by the loser's overwrite."""
    seen = {}

    def competing():
        seen["outer_reserved"] = sorted(
            p.name for p in (tmp_path / "t").glob("snap-*")
        )
        cat.upsert(
            spark,
            spark.createDataFrame([(2, "B")], "id long, v string"),
            "t",
            "id",
        )

    cat._commit_hook = competing
    with pytest.raises(CommitConflict):
        cat.upsert(
            spark,
            spark.createDataFrame([(1, "A")], "id long, v string"),
            "t",
            "id",
        )
    winner_snap = f"snap-{cat.current_snapshot('t')['snapshot']}"
    # the winner's dir did not exist when the outer writer reserved its own
    assert winner_snap not in seen["outer_reserved"]


def test_schema_evolution_add_column_null_fills(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    cat.write_stage(base, "t", bucket_key="id", n_buckets=16)

    batch = spark.createDataFrame(
        [(7, -1, "runA")], "id long, v long, lineage string"
    )
    # rejected by default, with a hint naming the opt-in
    with pytest.raises(ValueError, match="allow_new_columns"):
        cat.upsert(spark, batch, "t", "id")

    cat.upsert(spark, batch, "t", "id", allow_new_columns=True)
    got = cat.read_stage(spark, "t")
    assert got.columns == ["id", "v", "lineage"]
    rows = {r.id: (r.v, r.lineage) for r in got.collect()}
    assert len(rows) == 1000
    assert rows[7] == (-1, "runA")
    # every pre-evolution row — in touched AND untouched buckets — reads the
    # new column as NULL (Iceberg add-column semantics)
    assert all(lin is None for i, (v, lin) in rows.items() if i != 7)
    # manifest records the new column with its dtype
    cols = dict(tuple(c) for c in cat.current_snapshot("t")["columns"])
    assert cols["lineage"] == "string"

    # the contract is still strict elsewhere: dtype drift and dropped
    # columns on existing data both raise
    drift = spark.createDataFrame(
        [(1, "s", "y")], "id long, v string, lineage string"
    )
    with pytest.raises(ValueError, match="dtype drift"):
        cat.upsert(spark, drift, "t", "id")
    with pytest.raises(ValueError, match="columns"):
        cat.upsert(
            spark, spark.createDataFrame([(1, 5)], "id long, v long"), "t", "id"
        )
    # allow_new_columns covers ADDITIONS only — a batch missing a column
    # still fails instead of being null-filled
    with pytest.raises(ValueError, match="columns"):
        cat.upsert(
            spark, spark.createDataFrame([(1, 5)], "id long, v long"), "t", "id",
            allow_new_columns=True,
        )

    # a later full-schema upsert works, and a bucket split after evolution
    # migrates heterogeneous files without dropping the evolved column
    cat.upsert(
        spark,
        spark.createDataFrame([(8, -2, "runB")], "id long, v long, lineage string"),
        "t",
        "id",
    )
    hot = next(
        int(k.split("@")[0]) % 16
        for k, s in cat.current_snapshot("t")["buckets"].items()
        if s == f"snap-{cat.current_snapshot('t')['snapshot']}"
    )
    cat.split_buckets(spark, "t", [hot])
    rows = {r.id: (r.v, r.lineage) for r in cat.read_stage(spark, "t").collect()}
    assert len(rows) == 1000
    assert rows[7] == (-1, "runA") and rows[8] == (-2, "runB")


def test_bucket_write_keeps_the_reserved_snapshot_dir(spark, tmp_path, cat):
    """_write_buckets writes INTO the directory _reserve_snap just created.
    A static overwrite would delete that directory before the job writes,
    leaving a window in which a concurrent writer's mkdir claims the same
    snapshot id and one writer's overwrite deletes the other's committed
    leaves. The write must leave what is already in the directory alone."""
    snap_id = cat._reserve_snap("t", 1)
    marker = tmp_path / "t" / f"snap-{snap_id}" / "marker"
    marker.write_text("reserved")
    batch = spark.createDataFrame([(1, "A"), (2, "B")], "id long, v string")
    written = cat._write_buckets(batch, "t", snap_id, ["id"], 8)
    assert marker.read_text() == "reserved"
    assert written and all(
        cat._entry_path("t", f"snap-{snap_id}", cat._entry_for(b, m)).is_dir()
        for b, m in written
    )


def test_parallel_upserts_with_retries_all_land(spark, tmp_path):
    """Real concurrency, not hook-injected: four driver threads upsert
    disjoint key batches into one table simultaneously. Every writer must
    eventually commit via CAS + retry (commit_retries high enough for the
    worst interleaving), and the final table must contain all four batches
    plus the untouched base rows — the row-loss scenario the CAS closes
    would instead silently drop entire batches here."""
    import threading

    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 100).withColumn("v", F.lit("base"))
    cat.write_stage(base, "t", bucket_key="id", n_buckets=8)

    errors = []

    def writer(tag: int):
        batch = spark.createDataFrame(
            [(1000 + tag * 10 + j, f"w{tag}") for j in range(3)],
            "id long, v string",
        )
        try:
            cat.upsert(spark, batch, "t", "id", commit_retries=16)
        except Exception as e:  # surfaced below — don't deadlock the join
            errors.append((tag, repr(e)))

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    got = _rows(cat, spark)
    assert len(got) == 112  # 100 base + 4 writers x 3 rows
    for tag in range(4):
        assert all(got[1000 + tag * 10 + j] == f"w{tag}" for j in range(3))
    assert got[0] == "base"
    # the manifest advanced once per successful commit, monotonically
    assert cat.current_snapshot("t")["snapshot"] >= 4


def test_parallel_mor_upserts_all_deltas_land(spark, tmp_path):
    """CAS × merge-on-read: four threads land disjoint batches as DELTA
    commits simultaneously. The delta path mutates a different manifest
    section (per-bucket delta lists, not base pointers), so this pins that
    the retry loop re-reads and re-appends against the WINNER's delta
    lists — a lost-update there would drop a whole batch's deltas while
    still reporting success."""
    import threading

    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 100).withColumn("v", F.lit("base"))
    cat.write_stage(base, "t", bucket_key="id", n_buckets=8)

    errors = []

    def writer(tag: int):
        batch = spark.createDataFrame(
            [(tag * 10 + j, f"w{tag}") for j in range(3)],  # overwrite base keys
            "id long, v string",
        )
        try:
            cat.upsert(
                spark, batch, "t", "id", merge_on_read=True, commit_retries=16
            )
        except Exception as e:
            errors.append((tag, repr(e)))

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    got = _rows(cat, spark)
    assert len(got) == 100  # keyed replace: no new keys, no lost rows
    for tag in range(4):
        assert all(got[tag * 10 + j] == f"w{tag}" for j in range(3))
    assert got[99] == "base"
    cur = cat.current_snapshot("t")
    # every writer's deltas survived the CAS races (no lost-update): the
    # manifest carries all four commits' delta generations
    n_deltas = sum(len(v) for v in (cur.get("deltas") or {}).values())
    assert n_deltas >= 4
    # and compaction folds the contested generations back to one truth
    cat.compact(spark, "t")
    assert _rows(cat, spark) == got


def test_publish_refuses_after_concurrent_vacuum_reclaims_snapshot(
    spark, tmp_path, cat
):
    """A vacuum with no grace window can reclaim a concurrent writer's
    reserved-but-uncommitted snapshot directory; the writer's commit must
    then fail with CommitConflict instead of publishing bucket pointers at
    deleted files (ADVICE r5). The hook fires after the writer's bucket
    files are written, before its CAS — the exact hazard window."""
    batch = spark.createDataFrame([(1, "A")], "id long, v string")
    cat._commit_hook = lambda: cat.vacuum("t")  # reclaims the orphan dir
    with pytest.raises(CommitConflict, match="vanished|vacuum"):
        cat.upsert(spark, batch, "t", "id")

    # the table is undamaged and a retry lands cleanly
    cat.upsert(spark, batch, "t", "id")
    assert _rows(cat, spark)[1] == "A"
