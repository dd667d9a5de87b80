"""spark-submit entrypoint: the full KG-construction job.

Usage (local or cluster — only master/conf differ):

    zip -r llacie_spark.zip llacie_spark
    spark-submit --master <master> --py-files llacie_spark.zip \\
        jobs/run_kg.py --docs 100000 --out /path/to/graph \\
        [--corpus fixtures/admission-100.txt] \\
        [--stage-root /path/chkpts [--no-export]]

Without ``--stage-root``: ``run_pipeline`` into ``materialize_graph``. With
it, each run is one batch: log the undone doc ids as pending, upsert
``fused_extract`` into ``extracted``, ``derive_pending`` into the catalog
``edges`` table, then ``export_graph`` unless ``--no-export``; a re-submit
resumes from the last commit. One JSON report: the written graph's counters,
the staged derivation's under ``derive``, ``wall_s`` and ``phases``.
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
        "--no-export", action="store_true",
        help="with --stage-root: skip the full parquet export (the catalog "
        "table `edges` is the product; export on the final batch)",
    )
    p.add_argument(
        "--stage-merge-on-read", action="store_true",
        help="stage the extraction upsert merge-on-read: write IO O(batch) "
        "even for uniformly-hashed batches (BENCH/MOR_SCALING.md); deltas "
        "compact in the --stage-maintenance slot",
    )
    args = p.parse_args(argv)
    # a flag whose prerequisite is missing would otherwise be ignored: a
    # "redo" run without a catalog is a fresh full build reported as success
    for flag, given in (
        ("--redo-older-than", args.redo_older_than),
        ("--stage-maintenance", args.stage_maintenance),
        ("--stage-merge-on-read", args.stage_merge_on_read),
        ("--no-export", args.no_export),
    ):
        if given and not args.stage_root:
            p.error(f"{flag} needs --stage-root")

    from pyspark.sql import SparkSession

    from llacie_spark.corpus import (
        assemble_text,
        reference_doc_meta,
        reference_documents,
        synthetic_doc_meta,
        synthetic_documents,
    )
    from llacie_spark.incremental import (
        derive_pending, export_graph, maintain_graph, record_pending,
    )
    from llacie_spark.io import SnapshotCatalog
    from llacie_spark.materialize import materialize_graph
    from llacie_spark.pipeline import fused_extract, run_pipeline
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
    report = {}  # the graph counters of whichever writer ran, at the top level
    if args.stage_root:
        cat = SnapshotCatalog(args.stage_root)
        # discovery writes the batch's ids straight into the pending log, so
        # the anti-join against the PRE-upsert snapshot runs once (never
        # after the upsert and vacuum, when it could chase deleted files);
        # the log survives a crash before derivation (record_pending)
        todo = cat.unfinished(
            spark, docs, "extracted", "doc_id", redo_older_than=args.redo_older_than
        )
        ids_dir, n_todo = record_pending(todo, args.stage_root)
        phases["pending_s"] = round(time.time() - t0, 2)
        if n_todo:
            t = time.time()
            # drop note_text before persisting the stage: it is re-derivable
            # (assemble_text = ordered array_join over spans) and ~6 KB/doc —
            # storing it would double every upsert's and every bucket
            # split's IO forever. spans stay: the per-row span-sequence
            # invariant rides through every staged table.
            cat.upsert(
                spark,
                fused_extract(
                    assemble_text(spark.read.parquet(ids_dir).join(docs, "doc_id")),
                    vocab, scorer=scorer,
                ).drop("note_text"),
                "extracted",
                "doc_id",
                n_buckets="auto" if args.stage_buckets == "auto" else int(args.stage_buckets),
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
        # derivation work ∝ the batch's episodes, not the table
        t = time.time()
        report["derive"] = derive_pending(spark, cat, args.stage_root, meta)
        if report["derive"]["uncovered"]:
            print(
                f"WARNING: {report['derive']['uncovered']} pending-derive doc "
                "ids not covered by this run's doc metadata — keeping the "
                "pending log for a later run that covers them (derivation "
                "is idempotent)",
                file=sys.stderr,
            )
        phases["derive_s"] = round(time.time() - t, 2)
        if args.stage_maintenance:
            t = time.time()
            phases["graph_maintenance"] = maintain_graph(spark, cat)
            phases["graph_maintenance_s"] = round(time.time() - t, 2)
        if not args.no_export:
            t = time.time()
            report |= export_graph(spark, cat, args.out)
            phases["export_s"] = round(time.time() - t, 2)
    else:
        n_todo = None
        t = time.time()
        report |= materialize_graph(
            run_pipeline(docs, meta, vocab, scorer=scorer), args.out
        )
        phases["triples_materialize_s"] = round(time.time() - t, 2)

    report |= {"wall_s": round(time.time() - t0, 2), "phases": phases, "resumed_docs": n_todo}
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
