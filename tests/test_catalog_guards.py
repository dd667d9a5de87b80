"""Write guards shared by every snapshot-catalog writer.

- The stray-leaf guard: a write whose rows land in a leaf outside the set
  its writer collected (nondeterministic keys) raises before any manifest
  edit, for each of the five writers — copy-on-write upsert, merge-on-read
  upsert, ``delete_keys``, ``compact`` and ``split_buckets``.
- ``delete_keys(commit_retries=)`` re-runs a tombstone write that lost its
  compare-and-swap to a concurrent merge-on-read upsert.
"""

import pytest
from pyspark.sql import functions as F

from llacie_spark.io import SnapshotCatalog


def _rows(cat, spark):
    return sorted((r.id, r.v) for r in cat.read_stage(spark, "t").collect())


def _with_stray_row(cat, monkeypatch):
    """Make every bucket write carry one extra row whose key hashes into a
    leaf outside the write's ``allowed`` set — what a batch that hashes
    differently on re-evaluation would write."""
    real = cat._write_buckets

    def write(df, name, snap_id, keys, base, bucket_mods=None, allowed=None):
        mod, bucket = cat._assignment_exprs(keys, base, bucket_mods or {})
        spark, leaves = df.sparkSession, set(allowed)
        probe = next(
            r.id
            for r in spark.range(0, 1000)
            .select("id", bucket.alias("b"), mod.alias("m"))
            .collect()
            if (r.b, r.m) not in leaves
        )
        stray = spark.range(probe, probe + 1).select(
            *[
                F.col("id") if c == "id" else F.lit(None).cast(t).alias(c)
                for c, t in df.dtypes
            ]
        )
        return real(
            df.unionByName(stray), name, snap_id, keys, base, bucket_mods,
            allowed=allowed,
        )

    monkeypatch.setattr(cat, "_write_buckets", write)


def _batch(spark, *ids):
    return spark.createDataFrame([(i, "u") for i in ids], "id long, v string")


WRITERS = {
    "cow_upsert": lambda spark, cat: cat.upsert(spark, _batch(spark, 3, 4), "t", "id"),
    "mor_upsert": lambda spark, cat: cat.upsert(
        spark, _batch(spark, 3, 4), "t", "id", merge_on_read=True
    ),
    "delete_keys": lambda spark, cat: cat.delete_keys(
        spark.createDataFrame([(1,), (5,)], "id long"), "t"
    ),
    "compact": lambda spark, cat: cat.compact(spark, "t"),
    "split_buckets": lambda spark, cat: cat.split_buckets(spark, "t", [0, 5]),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_stray_leaf_guard_raises_before_any_manifest_edit(
    spark, tmp_path, monkeypatch, writer
):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 200).withColumn("v", F.lit("base")), "t",
        bucket_key="id", n_buckets=8,
    )
    # pending deltas, so compact has targets and reads pay the merge
    cat.upsert(spark, _batch(spark, 1, 2, 300), "t", "id", merge_on_read=True)
    before_snap = cat.current_snapshot("t")["snapshot"]
    before_rows = _rows(cat, spark)

    _with_stray_row(cat, monkeypatch)
    with pytest.raises(RuntimeError, match="outside the"):
        WRITERS[writer](spark, cat)

    assert cat.current_snapshot("t")["snapshot"] == before_snap
    assert _rows(cat, spark) == before_rows


def test_delete_keys_retries_past_concurrent_delta_commit(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 50).withColumn("v", F.lit("base")), "t",
        bucket_key="id", n_buckets=8,
    )
    # fires at the top of the first delete attempt's publish: the competitor
    # commits first, so that attempt's compare-and-swap loses
    cat._commit_hook = lambda: cat.upsert(
        spark, spark.createDataFrame([(5, "c"), (100, "c")], "id long, v string"),
        "t", "id", merge_on_read=True,
    )
    cat.delete_keys(spark.createDataFrame([(1,), (2,)], "id long"), "t",
                    commit_retries=2)

    rows = dict(_rows(cat, spark))
    assert 1 not in rows and 2 not in rows  # the tombstones landed
    assert rows[5] == "c" and rows[100] == "c"  # the competitor's rows survive
    assert len(rows) == 50 - 2 + 1
    cur = cat.current_snapshot("t")
    assert any(
        isinstance(d, dict) and d.get("tombstone")
        for legs in cur["deltas"].values() for d in legs
    )
