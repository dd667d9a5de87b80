"""Relational linker equivalence + snapshot catalog resume semantics."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def concepts_df(spark, vocab):
    return spark.createDataFrame(vocab.to_rows())


def _relational_terms(spark, concepts_df, mentions, salt=None):
    from llacie_spark.operators.linking import link_mentions_relational

    df = spark.createDataFrame([("d1", mentions)], "doc_id string, mentions array<string>")
    out = link_mentions_relational(df, concepts_df, salt_buckets=salt)
    return {r.label_name: r.line_number for r in out.collect()}


def test_relational_equals_udf_matcher_simple(spark, vocab, concepts_df):
    mentions = ["fever", "chest pain", "pleuritic chest pain", "leg swelling"]
    assert _relational_terms(spark, concepts_df, mentions) == vocab.find_terms(
        "\n".join(mentions)
    )


def test_relational_equals_udf_matcher_overlaps(spark, vocab, concepts_df):
    # longest-first with token consumption: "pleuritic chest pain" consumes
    # all three tokens; earlier line wins for repeated terms
    mentions = ["pleuritic chest pain now", "fever and chest pain", "fever"]
    assert _relational_terms(spark, concepts_df, mentions) == vocab.find_terms(
        "\n".join(mentions)
    )


def test_relational_salted_same_result(spark, vocab, concepts_df):
    mentions = ["fever", "leg pain", "nausea, vomiting"]
    expected = vocab.find_terms("\n".join(mentions))
    assert _relational_terms(spark, concepts_df, mentions, salt=4) == expected


def test_relational_equivalence_on_corpus(spark, vocab, concepts_df, corpus_notes):
    """Property test: relational linker == greedy UDF matcher on the real
    100-note corpus mention lists."""
    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi
    from llacie_spark.operators.linking import link_mentions_relational
    from llacie_spark.scorer import GazetteerScorer

    scorer = GazetteerScorer(canonicalize=vocab.find_terms)
    rows = []
    expected = {}
    for i, note in enumerate(corpus_notes[:40]):
        doc = f"d{i}"
        hpi = extract_short_hpi(clean_note_text(note))
        ms = scorer.score_one(hpi) if hpi else []
        rows.append((doc, ms))
        for term, line in vocab.find_terms("\n".join(ms)).items():
            expected[(doc, term)] = line
    df = spark.createDataFrame(rows, "doc_id string, mentions array<string>")
    out = link_mentions_relational(df, concepts_df)
    got = {(r.doc_id, r.label_name): r.line_number for r in out.collect()}
    assert got == expected


# ------------------------------------------------------------------- io


def test_snapshot_write_read_roundtrip(spark, tmp_path):
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 10).withColumn("v", F.col("id") * 2)
    snap = cat.write_stage(df, "t1", bucket_key="id", n_buckets=4)
    assert snap["snapshot"] == 0
    back = cat.read_stage(spark, "t1")
    assert back.count() == 10
    snap2 = cat.write_stage(df.where("id < 5"), "t1", bucket_key="id", n_buckets=4)
    assert snap2["snapshot"] == 1
    assert cat.read_stage(spark, "t1").count() == 5


def test_unfinished_anti_join_resume(spark, tmp_path):
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    inp = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    # nothing committed: everything unfinished
    assert cat.unfinished(spark, inp, "stage1", "doc_id").count() == 100
    # commit half, resume picks up the rest
    cat.write_stage(
        inp.where("doc_id < 60"), "stage1", bucket_key="doc_id", n_buckets=4
    )
    rest = cat.unfinished(spark, inp, "stage1", "doc_id")
    assert rest.count() == 40
    assert rest.agg(F.min("doc_id")).first()[0] == 60


def test_upsert_replaces_by_key(spark, tmp_path):
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    cat.write_stage(v1, "t", bucket_key="k", n_buckets=4)
    v2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    cat.upsert(spark, v2, "t", "k")
    got = {r.k: r.v for r in cat.read_stage(spark, "t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract (VERDICT r2 #3): an upsert's IO is O(batch), not
    O(table). Untouched bucket files must be carried forward by reference —
    byte-identical, never rewritten — and the new snapshot directory must
    contain only the buckets the batch's keys hash into."""
    import hashlib

    from llacie_spark.io import SnapshotCatalog

    def file_digests(d):
        return {
            str(p.relative_to(tmp_path)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in d.rglob("*.parquet")
        }

    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    cat.write_stage(base, "t", bucket_key="id", n_buckets=16)
    snap0 = cat.current_snapshot("t")
    assert set(snap0["buckets"].values()) == {"snap-0"}
    before = file_digests(tmp_path / "t" / "snap-0")
    assert before  # bucketed files exist

    # a 2-key batch touches at most 2 of 16 buckets
    batch = spark.createDataFrame([(7, -1), (1007, -2)], "id long, v long")
    cat.upsert(spark, batch, "t", "id")
    snap1 = cat.current_snapshot("t")
    touched = {b for b, s in snap1["buckets"].items() if s == "snap-1"}
    assert 1 <= len(touched) <= 2
    # every untouched bucket still points at snap-0 and its files are
    # byte-identical (same paths, same digests — nothing was rewritten)
    assert {s for b, s in snap1["buckets"].items() if b not in touched} == {"snap-0"}
    after = file_digests(tmp_path / "t" / "snap-0")
    assert after == before
    # the new snapshot dir holds only the touched buckets
    new_buckets = {
        f"{p.name.split('=')[1]}@{p.parent.name.split('=')[1]}"
        for p in (tmp_path / "t" / "snap-1").glob("_mod=*/_bucket=*")
    }
    assert new_buckets == touched

    # merge semantics survive the bucketed layout
    got = {r.id: r.v for r in cat.read_stage(spark, "t").collect()}
    assert len(got) == 1001 and got[7] == -1 and got[1007] == -2 and got[8] == 16

    # vacuum keeps every referenced dir (snap-0 still backs 14+ buckets)
    assert cat.vacuum("t") == []
    assert (tmp_path / "t" / "snap-0").exists()


def test_bucketed_upsert_crash_before_publish_is_invisible(spark, tmp_path):
    """A crash after bucket files are written but before the manifest
    publish must leave the previous snapshot as the readable state."""
    import shutil

    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 100).withColumn("v", F.lit("a"))
    cat.write_stage(base, "t", bucket_key="id", n_buckets=8)
    # simulate the torn upsert: data for snap-1 exists, manifest still snap-0
    batch = spark.createDataFrame([(5, "B")], "id long, v string")
    cat.upsert(spark, batch, "t", "id")
    manifest = (tmp_path / "t" / "_SNAPSHOT.json").read_text()
    cat.upsert(spark, spark.createDataFrame([(6, "C")], "id long, v string"), "t", "id")
    (tmp_path / "t" / "_SNAPSHOT.json").write_text(manifest)  # roll back commit
    got = {r.id: r.v for r in cat.read_stage(spark, "t").collect()}
    assert got[5] == "B" and got[6] == "a"  # snap-2 data invisible
    # vacuum respects only the committed manifest: snap-2's orphan dir goes
    removed = cat.vacuum("t")
    assert "snap-2" in removed and not (tmp_path / "t" / "snap-2").exists()
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == got


def test_vacuum_expires_fully_superseded_snapshots(spark, tmp_path):
    """Upserting the same key twice supersedes the middle snapshot's only
    bucket; vacuum removes exactly that directory."""
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(spark.range(0, 50).withColumn("v", F.lit("x")), "t",
                    bucket_key="id", n_buckets=8)
    one = spark.createDataFrame([(7, "y")], "id long, v string")
    cat.upsert(spark, one, "t", "id")   # snap-1: only bucket(7)
    cat.upsert(spark, one.withColumn("v", F.lit("z")), "t", "id")  # snap-2 supersedes it
    assert cat.vacuum("t") == ["snap-1"]
    assert not (tmp_path / "t" / "snap-1").exists()
    got = {r.id: r.v for r in cat.read_stage(spark, "t").collect()}
    assert len(got) == 50 and got[7] == "z" and got[8] == "x"


def test_upsert_rejects_schema_mismatch(spark, tmp_path):
    """A batch with extra or missing columns must raise, not be silently
    dropped when merged with old buckets / written when it hits fresh ones
    (mixed bucket schemas read back nondeterministically)."""
    import pytest

    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(spark.range(0, 20).withColumn("v", F.lit("x")), "t",
                    bucket_key="id", n_buckets=4)
    extra = spark.createDataFrame([(1, "y", 9)], "id long, v string, w long")
    with pytest.raises(ValueError, match="batch columns"):
        cat.upsert(spark, extra, "t", "id")
    missing = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="batch columns"):
        cat.upsert(spark, missing, "t", "id")


def test_upsert_rejects_dtype_drift(spark, tmp_path):
    """Same column NAMES but a drifted TYPE must raise (ADVICE r3): a
    string-typed v merged into a long-typed table would write mixed-type
    parquet across bucket snapshots that multi-path reads resolve
    arbitrarily."""
    import pytest

    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(spark.range(0, 20).withColumn("v", F.lit(1).cast("long")), "t",
                    bucket_key="id", n_buckets=4)
    drifted = spark.createDataFrame([(1, "oops")], "id long, v string")
    with pytest.raises(ValueError, match="dtype drift"):
        cat.upsert(spark, drifted, "t", "id")
    # correctly-typed batch still goes through
    ok = spark.createDataFrame([(1, 99)], "id long, v long")
    cat.upsert(spark, ok, "t", "id")
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()}[1] == 99


def test_split_buckets_rewrites_only_split_bucket(spark, tmp_path):
    """The layout migration (VERDICT r3 #2): splitting one base bucket to a
    deeper modulus must leave every other bucket's files byte-identical, and
    upserts after the migration must stay incremental (touch only the leaf
    buckets the batch hashes into, at the right modulus)."""
    import hashlib

    from llacie_spark.io import SnapshotCatalog

    def file_digests(d):
        return {
            str(p.relative_to(tmp_path)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in d.rglob("*.parquet")
        }

    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 2000).withColumn("v", F.col("id") * 3)
    cat.write_stage(base, "t", bucket_key="id", n_buckets=8)
    before = file_digests(tmp_path / "t" / "snap-0")
    rows_before = {r.id: r.v for r in cat.read_stage(spark, "t").collect()}

    cat.split_buckets(spark, "t", [3])
    snap = cat.current_snapshot("t")
    assert snap["bucket_mods"] == {"3": 16}
    # bucket 3's old entry is gone; children 3@16 and 11@16 now exist
    assert "3@8" not in snap["buckets"]
    children = {k for k in snap["buckets"] if k.endswith("@16")}
    assert children <= {"3@16", "11@16"} and children
    # every other bucket still points at snap-0, files byte-identical
    untouched = {k: s for k, s in snap["buckets"].items() if k not in children}
    assert set(untouched.values()) == {"snap-0"}
    after = file_digests(tmp_path / "t" / "snap-0")
    assert {p: h for p, h in after.items() if "_bucket=3/" not in p} == {
        p: h for p, h in before.items() if "_bucket=3/" not in p
    }
    # data identical across the migration
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == rows_before

    # an upsert into the split region lands at modulus 16 and touches only
    # its leaf bucket; an upsert elsewhere still lands at modulus 8
    # (base bucket = xxhash64(id) % 8, so pick the probe via the same hash)
    probe = (
        spark.range(0, 2000)
        .where(F.pmod(F.xxhash64("id"), F.lit(8)) == 3)
        .first()["id"]
    )
    cat.upsert(spark, spark.createDataFrame([(probe, -5)], "id long, v long"), "t", "id")
    snap2 = cat.current_snapshot("t")
    newly = {k for k, s in snap2["buckets"].items() if s == "snap-2"}
    assert len(newly) == 1 and next(iter(newly)).endswith("@16")
    got = {r.id: r.v for r in cat.read_stage(spark, "t").collect()}
    assert len(got) == 2000 and got[probe] == -5

    # split is repeatable: the hot child can go deeper (16 -> 32)
    cat.split_buckets(spark, "t", [3])
    snap3 = cat.current_snapshot("t")
    assert snap3["bucket_mods"] == {"3": 32}
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == got
    # vacuum after the migrations keeps a consistent readable table
    cat.vacuum("t")
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == got


@pytest.mark.parametrize("shape", ["pre_split_names_only", "wrong_format"])
def test_manifest_of_another_format_is_refused(spark, tmp_path, shape):
    """The catalog reads one manifest format. A manifest of another shape —
    the pre-split form (bare "b" keys at `snap/_bucket=b`, names-only
    columns, no bucket_mods, no format) or a wrong `format` number — makes
    read_stage, upsert and vacuum raise ValueError naming the table, with
    every file left as it was; drop still clears the table."""
    import hashlib
    import json as _json
    import shutil

    from llacie_spark.io import MANIFEST_FORMAT, SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(spark.range(0, 400).withColumn("v", F.col("id") * 2), "t",
                    bucket_key="id", n_buckets=8)
    t = tmp_path / "t"
    m = _json.loads((t / "_SNAPSHOT.json").read_text())
    if shape == "pre_split_names_only":
        snap0 = t / "snap-0"
        for bdir in list(snap0.glob("_mod=8/_bucket=*")):
            shutil.move(str(bdir), str(snap0 / bdir.name))
        (snap0 / "_mod=8").rmdir()
        m["buckets"] = {k.split("@")[0]: v for k, v in m["buckets"].items()}
        m["columns"] = [c for c, _ in m["columns"]]
        del m["bucket_mods"], m["format"]
    else:
        m["format"] = MANIFEST_FORMAT + 1
    (t / "_SNAPSHOT.json").write_text(_json.dumps(m))
    (t / "snap-7").mkdir()  # an orphan dir vacuum would otherwise reclaim

    def files():
        return {
            str(p.relative_to(t)): (
                hashlib.md5(p.read_bytes()).hexdigest() if p.is_file() else None
            )
            for p in t.rglob("*")
        }

    before = files()
    batch = spark.createDataFrame([(7, -1)], "id long, v long")
    for op in (
        lambda: cat.read_stage(spark, "t"),
        lambda: cat.upsert(spark, batch, "t", "id"),
        lambda: cat.vacuum("t"),
    ):
        with pytest.raises(ValueError, match="'t'.*format.*rebuild"):
            op()
        assert files() == before
    cat.drop("t")
    assert not t.exists() and cat.current_snapshot("t") is None


def test_split_crash_before_publish_leaves_old_layout(spark, tmp_path):
    """A crash after the split wrote its new bucket files but before the
    manifest publish must leave the pre-split layout committed and a retry
    must succeed cleanly: the torn attempt's snap-1 is never reused (the
    retry reserves snap-2) and stays an orphan for vacuum."""
    import pytest

    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(spark.range(0, 500).withColumn("v", F.col("id")), "t",
                    bucket_key="id", n_buckets=8)
    rows = {r.id: r.v for r in cat.read_stage(spark, "t").collect()}

    real_publish = cat._publish
    cat._publish = lambda *a, **k: (_ for _ in ()).throw(OSError("disk gone"))
    with pytest.raises(OSError):
        cat.split_buckets(spark, "t", [2])
    cat._publish = real_publish

    snap = cat.current_snapshot("t")
    assert snap["snapshot"] == 0 and not snap.get("bucket_mods")  # old layout
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == rows
    # retry succeeds in a fresh snapshot dir; the torn attempt's is an orphan
    cat.split_buckets(spark, "t", [2])
    snap = cat.current_snapshot("t")
    assert snap["snapshot"] == 2 and snap["bucket_mods"] == {"2": 16}
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == rows
    # vacuum reclaims the torn attempt's snap-1, never the live snap-2
    assert cat.vacuum("t") == ["snap-1"]
    assert {r.id: r.v for r in cat.read_stage(spark, "t").collect()} == rows


def test_maybe_split_splits_only_oversized_buckets(spark, tmp_path):
    """The maintenance loop: buckets past 2x the byte target split, healthy
    ones stay; data survives and the split is recorded per base bucket."""
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(
        spark.range(0, 4000).withColumn("v", F.col("id")), "t",
        bucket_key="id", n_buckets=8,
    )
    sizes = cat.bucket_sizes("t")
    # pick a target so that every bucket is oversized -> all 8 split
    tiny_target = min(sizes.values()) // 4
    split = cat.maybe_split(spark, "t", target_bucket_bytes=tiny_target)
    assert split == list(range(8))
    assert cat.current_snapshot("t")["bucket_mods"] == {str(b): 16 for b in range(8)}
    assert cat.read_stage(spark, "t").count() == 4000
    # with a huge target nothing is oversized -> no-op
    assert cat.maybe_split(spark, "t", target_bucket_bytes=1 << 40) == []


def test_split_halves_the_next_hot_upsert(spark, tmp_path):
    """Recovery of a mis-sized table: a hot-key upsert rewrites its whole
    base bucket; after ``split_buckets`` the same upsert rewrites only the
    key's child leaf, about half the rows, without rewriting the table."""
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    base = spark.range(0, 4000).withColumn("v", F.col("id"))
    cat.write_stage(base, "t", bucket_key="id", n_buckets=8)
    probe = base.where(F.pmod(F.xxhash64("id"), F.lit(8)) == 3).first()["id"]
    hot = spark.createDataFrame([(probe, -1)], "id long, v long")

    def rows_written_by(upsert):
        upsert()
        snap = cat.current_snapshot("t")["snapshot"]
        return spark.read.parquet(str(tmp_path / "t" / f"snap-{snap}")).count()

    bucket_rows = base.where(F.pmod(F.xxhash64("id"), F.lit(8)) == 3).count()
    assert rows_written_by(lambda: cat.upsert(spark, hot, "t", "id")) == bucket_rows

    cat.split_buckets(spark, "t", [3])
    leaf = base.where(
        F.pmod(F.xxhash64("id"), F.lit(16)) == F.pmod(F.xxhash64(F.lit(probe).cast("long")), F.lit(16))
    ).count()
    assert rows_written_by(lambda: cat.upsert(spark, hot, "t", "id")) == leaf
    assert 0.3 < leaf / bucket_rows < 0.7
    assert cat.read_stage(spark, "t").count() == 4000


def test_write_stage_auto_buckets_and_sizes(spark, tmp_path):
    """n_buckets='auto' sizes the layout from the batch (power of two of
    rows/TARGET_ROWS_PER_BUCKET, floor 8); bucket_sizes reports per-bucket
    bytes for split decisions."""
    from llacie_spark.io import SnapshotCatalog

    assert SnapshotCatalog._choose_n_buckets(5000, 500) == 16  # next pow2
    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 5000).withColumn("v", F.col("id"))
    cat.write_stage(df, "t", bucket_key="id", n_buckets="auto")
    snap = cat.current_snapshot("t")
    assert snap["n_buckets"] == 8  # 5000 rows is far under one bucket's target
    sizes = cat.bucket_sizes("t")
    assert len(sizes) == 8 and all(v > 0 for v in sizes.values())
    assert cat.read_stage(spark, "t").count() == 5000


def test_vacuum_grace_window_retains_recent_snapshots(spark, tmp_path):
    """older_than_s retains recently-superseded dirs so in-flight lazy
    readers don't lose their files (ADVICE r3 vacuum contract)."""
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    cat.write_stage(spark.range(0, 50).withColumn("v", F.lit("x")), "t",
                    bucket_key="id", n_buckets=8)
    one = spark.createDataFrame([(7, "y")], "id long, v string")
    cat.upsert(spark, one, "t", "id")
    reader = cat.read_stage(spark, "t")  # lazy: pinned to snap-0 + snap-1
    cat.upsert(spark, one.withColumn("v", F.lit("z")), "t", "id")  # supersedes snap-1
    assert cat.vacuum("t", older_than_s=3600) == []  # grace window holds
    assert {r.id: r.v for r in reader.collect()}[7] == "y"  # reader still valid
    assert cat.vacuum("t") == ["snap-1"]  # immediate vacuum reclaims it


def test_unfinished_rejects_malformed_cutoff(spark, tmp_path):
    import pytest

    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    inp = spark.range(0, 5).withColumnRenamed("id", "doc_id")
    done = inp.withColumn("updated_at", F.current_timestamp())
    cat.write_stage(done, "t", bucket_key="doc_id", n_buckets=4)
    with pytest.raises(ValueError, match="ISO timestamp"):
        cat.unfinished(spark, inp, "t", "doc_id", redo_older_than="2026-13-01")


def test_torn_manifest_is_invisible(spark, tmp_path):
    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(0, 3)
    cat.write_stage(df, "t", bucket_key="id", n_buckets=4)
    (tmp_path / "t" / "_SNAPSHOT.json").write_text("{not json")
    assert cat.current_snapshot("t") is None
    assert cat.read_stage(spark, "t") is None  # uncommitted => invisible


def test_pipeline_resume_end_to_end(spark, vocab, tmp_path):
    """Kill-between-stages resume: stage outputs committed per snapshot;
    rerun processes only unfinished docs; final triples identical to a
    single-shot run (the reference SKIPTO-fixture pattern)."""
    from llacie_spark.corpus import assemble_text, reference_doc_meta, reference_documents
    from llacie_spark.io import SnapshotCatalog
    from llacie_spark.pipeline import episode_triples, fused_extract, run_pipeline

    docs = reference_documents(spark)
    meta = reference_doc_meta(spark)
    cat = SnapshotCatalog(str(tmp_path))

    # "crashed" first run: only 30 docs worth of extraction committed
    part1 = assemble_text(docs.where(F.col("doc_id") <= "doc-000030"))
    cat.write_stage(
        fused_extract(part1, vocab), "extracted", bucket_key="doc_id", n_buckets=8
    )

    # resume: anti-join finds the rest, upsert completes the table
    todo = cat.unfinished(spark, docs, "extracted", "doc_id")
    assert todo.count() == 70
    cat.upsert(spark, fused_extract(assemble_text(todo), vocab), "extracted", "doc_id")

    resumed = episode_triples(cat.read_stage(spark, "extracted"), meta)
    oneshot = run_pipeline(docs, meta, vocab)
    a = {(r.episode_id, r.label_name, r.line_number) for r in resumed.collect()}
    b = {(r.episode_id, r.label_name, r.line_number) for r in oneshot.collect()}
    assert a == b and len(a) > 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key join without a shuffle."""
    from llacie_spark.io import write_bucketed

    a = spark.range(0, 1000).withColumnRenamed("id", "doc_id").withColumn("x", F.col("doc_id") * 2)
    b = spark.range(0, 1000).withColumnRenamed("id", "doc_id").withColumn("y", F.col("doc_id") + 1)
    write_bucketed(a, "bt_a", "doc_id", n_buckets=8, sort_col="doc_id")
    write_bucketed(b, "bt_b", "doc_id", n_buckets=8, sort_col="doc_id")
    # force the shuffle-join path (tiny test tables would broadcast, which
    # bypasses bucketing entirely); at scale neither side broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: merge join with NO shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("drop table bt_a")
        spark.sql("drop table bt_b")


def test_unfinished_redo_older_than(spark, tmp_path):
    """Staleness reprocessing (reference --redo-older-than): committed rows
    whose updated_at predates the cutoff count as unfinished again."""
    import datetime

    from llacie_spark.io import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    done = spark.createDataFrame(
        [(1, datetime.datetime(2026, 1, 1)), (2, datetime.datetime(2026, 1, 1)),
         (3, datetime.datetime(2026, 6, 1)), (4, datetime.datetime(2026, 6, 1))],
        "doc_id long, updated_at timestamp",
    )
    cat.write_stage(done, "extracted", bucket_key="doc_id", n_buckets=4)
    inp = spark.range(1, 6).select(F.col("id").alias("doc_id"))

    fresh = {r.doc_id for r in cat.unfinished(spark, inp, "extracted", "doc_id").collect()}
    assert fresh == {5}

    redo = cat.unfinished(
        spark, inp, "extracted", "doc_id",
        redo_older_than=datetime.datetime(2026, 3, 1),
    )
    assert {r.doc_id for r in redo.collect()} == {1, 2, 5}
