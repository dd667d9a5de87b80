"""spark-submit entrypoint: the full KG-construction job.

Usage (local or cluster — only master/conf differ):

    zip -r llacie_spark.zip llacie_spark
    spark-submit --master <master> --py-files llacie_spark.zip \\
        jobs/run_kg.py --docs 100000 --out /path/to/graph \\
        [--corpus fixtures/admission-100.txt] [--stage-root /path/chkpts]

Stages run checkpointed through the snapshot catalog, so re-submitting after
a failure resumes from the last committed stage (anti-join work discovery).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", type=int, default=10_000, help="synthetic corpus size")
    p.add_argument("--corpus", default=None, help="notes corpus file (reference format)")
    p.add_argument("--vocab", default="fixtures/vocab_pres_sx_v2.csv")
    p.add_argument("--out", required=True, help="output dir for nodes/edges/metrics")
    p.add_argument("--stage-root", default=None, help="snapshot checkpoint root (enables resume)")
    p.add_argument(
        "--stage-buckets", default="32",
        help="snapshot-catalog upsert bucket count: an int sized for the "
        "table's expected volume, or 'auto' to size from the first batch "
        "(~1M rows/bucket); hot buckets split later via "
        "SnapshotCatalog.split_buckets without a full rewrite",
    )
    p.add_argument(
        "--stage-maintenance", action="store_true",
        help="after the stage upsert, split buckets grown past 2x "
        "--stage-split-target-mb and vacuum snapshots unreferenced for "
        ">10 min — the per-run layout upkeep an Iceberg table service "
        "would do",
    )
    p.add_argument("--stage-split-target-mb", type=int, default=256)
    p.add_argument(
        "--scorer", default="feature.presenting_sx.gazetteer",
        help="registered scorer strategy name (scorer.find_scorers('*'))",
    )
    p.add_argument(
        "--redo-older-than", default=None,
        help="ISO timestamp: re-extract committed rows older than this "
        "(staleness redo after a strategy upgrade; needs --stage-root)",
    )
    p.add_argument(
        "--incremental-derive", action="store_true",
        help="maintain the graph as the catalog table `edges`, updated per "
        "batch (episode-scoped triple recompute + merge-on-read edge upsert "
        "+ tombstone retraction) instead of re-deriving the full graph each "
        "run; needs --stage-root. --out then renders a full export (nodes "
        "and metrics derived from the edges) after the batch commit (pass "
        "--no-export to skip it on intermediate batches)",
    )
    p.add_argument(
        "--no-export", action="store_true",
        help="with --incremental-derive: skip the full parquet export "
        "(the catalog table `edges` is the product; export on the final "
        "batch)",
    )
    p.add_argument(
        "--stage-merge-on-read", action="store_true",
        help="stage the extraction upsert merge-on-read: write IO O(batch) "
        "even for uniformly-hashed batches (BENCH/MOR_SCALING.md); deltas "
        "compact in the --stage-maintenance slot",
    )
    args = p.parse_args(argv)
    # a flag whose prerequisite is missing would otherwise be ignored: a
    # "redo" run without a catalog is a fresh full build reported as success,
    # and --incremental-derive without one never creates the catalog edges
    # table a later --stage-root run expects
    for flag, given, needs, present in (
        ("--incremental-derive", args.incremental_derive, "--stage-root", args.stage_root),
        ("--redo-older-than", args.redo_older_than, "--stage-root", args.stage_root),
        ("--stage-maintenance", args.stage_maintenance, "--stage-root", args.stage_root),
        ("--stage-merge-on-read", args.stage_merge_on_read, "--stage-root", args.stage_root),
        ("--no-export", args.no_export, "--incremental-derive", args.incremental_derive),
    ):
        if given and not present:
            p.error(f"{flag} needs {needs}")

    from pyspark.sql import SparkSession

    from llacie_spark.corpus import (
        assemble_text,
        reference_doc_meta,
        reference_documents,
        synthetic_doc_meta,
        synthetic_documents,
    )
    from llacie_spark.incremental import maintain_graph
    from llacie_spark.io import SnapshotCatalog
    from llacie_spark.materialize import materialize_graph
    from llacie_spark.pipeline import episode_triples, fused_extract, run_pipeline
    from llacie_spark.vocab import Vocab

    from llacie_spark.scorer import get_scorer

    builder = SparkSession.builder.appName("llacie-kg")
    if os.environ.get("SPARK_MASTER"):  # plain-python runs; spark-submit
        builder = builder.master(os.environ["SPARK_MASTER"])  # sets its own
    spark = builder.getOrCreate()
    # local-mode Python worker creation is serialized and slow (~2.5 s per
    # worker); pay it up front instead of inside the first timed stage
    from llacie_spark.session import prewarm_python_workers

    prewarm_python_workers(spark)
    vocab = Vocab.from_csv(args.vocab)
    scorer = get_scorer(args.scorer, vocab=vocab)

    if args.corpus:
        docs = reference_documents(spark, args.corpus)
        meta = reference_doc_meta(spark, docs.count())
    else:
        from llacie_spark.pipeline import docs_partitions

        parts = docs_partitions(args.docs, spark.sparkContext.defaultParallelism)
        docs = synthetic_documents(spark, args.docs, partitions=parts)
        meta = synthetic_doc_meta(spark, args.docs)

    t0 = time.time()
    phases = {}
    if args.stage_root:
        cat = SnapshotCatalog(args.stage_root)
        todo = cat.unfinished(
            spark, docs, "extracted", "doc_id", redo_older_than=args.redo_older_than
        )
        n_todo = todo.count()
        phases["discover_s"] = round(time.time() - t0, 2)
        if args.incremental_derive and n_todo:
            # pin the batch's doc ids NOW into the pending-derivation log
            # (one slim-column write, O(batch)). Two reasons: `todo` is a
            # lazy anti-join against the PRE-upsert snapshot, and
            # re-evaluating it later — after the upsert commits and
            # maintenance vacuums — could chase deleted files; and the log
            # survives a crash between the extraction commit and the
            # derivation commit, so the next invocation re-derives the
            # batch instead of losing it (see incremental.record_pending)
            from llacie_spark.incremental import record_pending

            ids_dir = record_pending(todo, args.stage_root)
            todo = spark.read.parquet(ids_dir).join(docs, "doc_id")
        if n_todo:
            stage_buckets = (
                args.stage_buckets
                if args.stage_buckets == "auto"
                else int(args.stage_buckets)
            )
            t = time.time()
            # drop note_text before persisting the stage: it is re-derivable
            # (assemble_text = ordered array_join over spans) and ~6 KB/doc —
            # storing it would double every upsert's and every bucket
            # split's IO forever. spans stay: the per-row span-sequence
            # invariant rides through every staged table.
            cat.upsert(
                spark,
                fused_extract(assemble_text(todo), vocab, scorer=scorer).drop(
                    "note_text"
                ),
                "extracted",
                "doc_id",
                n_buckets=stage_buckets,
                merge_on_read=args.stage_merge_on_read,
            )
            # extract+upsert are one fused plan (the UDF runs inside the
            # bucket write), so this phase is "extraction + merge" together
            phases["extract_upsert_s"] = round(time.time() - t, 2)
        if args.stage_maintenance:
            t = time.time()
            upkeep = maintain_graph(
                spark, cat, table="extracted",
                target_bucket_bytes=args.stage_split_target_mb << 20,
            ).get("extracted", {"split": [], "expired": 0})
            phases["maintenance_s"] = round(time.time() - t, 2)
            if upkeep["split"] or upkeep["expired"]:
                print(
                    f"maintenance: split buckets {upkeep['split']}, expired "
                    f"{upkeep['expired']} snapshots",
                    file=sys.stderr,
                )
            phases["split_buckets"] = upkeep["split"]
        if args.incremental_derive:
            # derivation work ∝ the batch's episodes, not the table: the
            # affected episodes recompute from a bucket-pruned re-read of
            # the extracted stage, edges upsert merge-on-read keyed by
            # subj, zero-triple episodes retract via tombstones
            from llacie_spark.incremental import (
                clear_pending,
                derive_batch,
                export_graph,
                read_pending,
            )

            t = time.time()
            # the pending log may hold MORE than this run's batch: a prior
            # invocation that crashed between its extraction commit and its
            # derivation commit left its ids outstanding — derive the union
            # (idempotent at episode granularity), then retire exactly the
            # entries that were read
            pending, consumed = read_pending(spark, args.stage_root)
            if pending is not None:
                # only retire the log when THIS run's doc→episode map covers
                # every outstanding id: a run invoked with a smaller --docs
                # (or a different corpus) than the crashed run that logged
                # them would otherwise derive nothing for the uncovered ids
                # and still delete their only re-derivation record
                n_uncovered = pending.join(
                    meta.select("doc_id"), "doc_id", "left_anti"
                ).count()
                dstats = derive_batch(spark, cat, pending, meta)
                if n_uncovered:
                    print(
                        f"WARNING: {n_uncovered} pending-derive doc ids not "
                        "covered by this run's doc metadata — keeping the "
                        "pending log for a later run that covers them "
                        "(derivation is idempotent)",
                        file=sys.stderr,
                    )
                else:
                    clear_pending(consumed)
            else:
                dstats = {"episodes": 0, "edges": 0, "retracted": 0}
            phases["derive_s"] = round(time.time() - t, 2)
            if args.stage_maintenance:
                t = time.time()
                phases["graph_maintenance"] = maintain_graph(spark, cat)
                phases["graph_maintenance_s"] = round(time.time() - t, 2)
            stats = dict(dstats)
            if not args.no_export:
                t = time.time()
                # namespaced: dstats["edges"] counts THIS batch's edges,
                # the export counts the whole table — same key, different
                # meanings, so they must not collide in the JSON
                stats["export"] = export_graph(spark, cat, args.out)
                phases["export_s"] = round(time.time() - t, 2)
            stats["wall_s"] = round(time.time() - t0, 2)
            stats["phases"] = phases
            stats["resumed_docs"] = n_todo
            print(json.dumps(stats))
            spark.stop()
            return
        t = time.time()
        triples = episode_triples(cat.read_stage(spark, "extracted"), meta)
    else:
        n_todo = None
        t = time.time()
        triples = run_pipeline(docs, meta, vocab, scorer=scorer)

    stats = materialize_graph(triples, args.out)
    phases["triples_materialize_s"] = round(time.time() - t, 2)
    stats["wall_s"] = round(time.time() - t0, 2)
    stats["phases"] = phases
    stats["resumed_docs"] = n_todo
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
