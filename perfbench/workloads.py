"""The four workloads, their output checks and the traced per-layer ledger.

Flow of one run: generate inputs from the seed -> set up (Spark session,
Python-worker prewarm, vocab load, write the inputs as parquet) three times
and report the median -> an untimed warm-up job, with the gold chain and
the reference extraction beside it -> closed loop of timed jobs for
``--seconds`` -> output checks -> one JSON line. With ``--trace 1`` the
gold chain and the timed jobs are skipped: spans are on from the warm-up
job, and the per-layer ledger follows it.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import gen
import reference as ref
from spans import RssSampler, StageMetrics, Tracer

from bench import _cpu_stat, _steal_pct

CORES = len(os.sched_getaffinity(0))  # what nproc reports
SETUPS = 3
MIN_REPS = 1
# build workloads: the warm-up job reads the first 1/SMALL_SHARE of the notes
SMALL_SHARE = 8
# share of episodes whose graph is compared with the plain-Python reference:
# the reference scores every mutated HPI (about 2.5 ms of CPU each), which
# at 10,000 notes would outlast the untimed work it runs beside
CHECKED_SHARE = {"build_distinct": 0.25, "build_episodes": 1.0}
GOLD_FLOOR = 0.95  # the repo's gold gate (ROADMAP: P/R >= 0.95)

PARAMS = {
    "build_distinct": gen.GenParams(n_docs=10000, distinct_ratio=1.0, text_spans=(1, 4), media_spans=(0, 2)),
    "build_episodes": gen.GenParams(
        n_docs=8000, distinct_ratio=0.0, notes_per_episode=12.0, no_hpi_share=0.85,
        text_spans=(3, 8), media_spans=(1, 4), filtered_share=0.35,
    ),
    "ingest_incremental": gen.GenParams(batch_docs=24, n_batches=40, text_spans=(1, 4), media_spans=(0, 2)),
    "near_dup_notes": gen.GenParams(n_docs=240, dup_cluster_rate=0.3, text_spans=(1, 1), media_spans=(0, 1)),
}
GENERATORS = {
    "build_distinct": gen.build_corpus,
    "build_episodes": gen.build_corpus,
    "ingest_incremental": gen.build_ingest,
    "near_dup_notes": gen.build_near_dup,
}
STAGE_BUCKETS = 8  # ingest: extracted-stage catalog buckets
GRAPH_BUCKETS = 64  # materialize / derive_batch default
SPLIT_TARGET_BYTES = 16 << 10  # small, so splits and compaction fire in a run
MAINTAIN_EVERY = 3  # ingest batches between maintenance slots
LEDGER_DOCS = 240
LEDGER_DEDUP_DOCS = 80


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, str]:
    """Highest percentile with at least 10 samples beyond it; the maximum
    when there are fewer than 11 samples."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], f"max (n={n}, fewer than 11 samples)"
    r = n - 11
    return s[r], f"p{100 * r / (n - 1):.1f} (n={n})"


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Ctx:
    def __init__(self, args, root: Path, work: Path):
        self.args, self.root, self.work = args, root, work
        self.vocab_csv = root / "fixtures" / "vocab_pres_sx_v2.csv"
        self.workload = args.workload
        self.tracer = Tracer(args.workload, enabled=False)
        self.attempted = 0
        self.failed = 0
        self.notes_fail: list[str] = []
        self.spark = None

    def op(self, name, fn):
        """One attempted operation; a raise counts as one failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            self.notes_fail.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            print(f"FAILED {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """One output check; a mismatch counts as one failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes_fail.append(f"check {name}: {detail}")
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}", flush=True)
        return ok


# ---------------------------------------------------------------- session


def _spark_conf(work: Path, trace: bool) -> dict:
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # Steadiness over peak speed, measured on a 4-core host. C1 only:
        # with C2 each job was still 5-15 % faster than the last at job 4.
        # A fixed-size serial-GC heap: G1's adaptive sizing swung job times
        # and resident memory by 15-30 % between jobs. A larger code cache:
        # C1-only gets 48 MB, which Spark's generated classes fill about a
        # minute in; the JIT then shuts off and later jobs run 30-100 %
        # slower. Compile thresholds at 1 %: Spark's planner code runs a few
        # thousand times per job, so at the default thresholds C1 was still
        # compiling it ten jobs in; at 1 % most of that drift is over before
        # the first timed job (closed_loop handles the rest). No perf-data
        # file: the JVM would write it under /tmp, outside the checkout.
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            "-XX:CompileThresholdScaling=0.01 -XX:-UsePerfData "
            "-XX:+UseSerialGC -Xms2g "
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}"
        ),
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _write_table(rows: list[tuple], schema, dest: Path, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest.mkdir(parents=True, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(0, len(rows), step):
        cols = list(zip(*rows[i:i + step]))
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                                     schema=schema)
        pq.write_table(table, dest / f"part-{i // step:05d}.parquet")


def _arrow_schemas():
    """``schemas.DOCUMENTS`` / ``schemas.DOC_META`` as Arrow schemas."""
    import pyarrow as pa

    span = pa.struct([
        pa.field("kind", pa.string(), False), pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()), pa.field("offset", pa.int32(), False),
    ])
    ts = pa.timestamp("us", tz="UTC")
    docs = pa.schema([pa.field("doc_id", pa.string(), False),
                      pa.field("spans", pa.list_(span), False)])
    meta = pa.schema([
        pa.field("doc_id", pa.string(), False), pa.field("episode_id", pa.int64(), False),
        pa.field("patient_id", pa.string()), pa.field("note_type", pa.string()),
        pa.field("date_of_service_ts", ts), pa.field("episode_start_ts", ts),
        pa.field("infection_criteria", pa.bool_()), pa.field("excl_st0_combined", pa.bool_()),
    ])
    return docs, meta


def _write_inputs(corpus: gen.Corpus, dest: Path, files: int) -> None:
    """Parquet in the DOCUMENTS / DOC_META shapes; ingest inputs are
    partitioned by batch (``docs/batch=<k>/``)."""
    docs_schema, meta_schema = _arrow_schemas()
    groups = ({k: corpus.batch(k) for k in range(corpus.params.n_batches)}
              if corpus.params.n_batches else {None: corpus.notes})
    for k, notes in groups.items():
        sub = "" if k is None else f"batch={k}"
        n = 1 if k is not None else files
        _write_table([x.doc_row() for x in notes], docs_schema, dest / "docs" / sub, n)
        _write_table([x.meta_row() for x in notes], meta_schema, dest / "meta" / sub, n)


def setup(ctx: Ctx, corpus: gen.Corpus) -> dict:
    """Session + prewarm + vocab load + input write, ``SETUPS`` times (the
    first one starts the JVM); the last session is kept."""
    from llacie_spark.session import get_spark, prewarm_python_workers
    from llacie_spark.vocab import Vocab

    totals, prewarms = [], []
    for k in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=max(CORES, 8),
            extra_conf=_spark_conf(ctx.work, bool(ctx.args.trace)),
        )
        t1 = time.perf_counter()
        prewarm_python_workers(spark)
        t2 = time.perf_counter()
        vocab = Vocab.from_csv(str(ctx.vocab_csv))
        inputs = ctx.work / f"input-{k}"
        _write_inputs(corpus, inputs, CORES)
        t3 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark, ctx.vocab, ctx.inputs = spark, vocab, inputs
        totals.append(t3 - t0)
        prewarms.append(t2 - t1)
        print(f"setup {k}: session {t1 - t0:.2f}s prewarm {t2 - t1:.2f}s "
              f"vocab+inputs {t3 - t2:.2f}s", flush=True)
    return {"setup_s": _median(totals), "prewarm_s": _median(prewarms)}


def shutdown(ctx: Ctx) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if ctx.spark is not None:
        ctx.spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- graph IO


def read_graph(spark, out: str) -> tuple[list[tuple], list[tuple]]:
    nodes = [tuple(r) for r in spark.read.parquet(f"{out}/nodes").select(*ref.NODE_COLS).collect()]
    edges = [tuple(r) for r in spark.read.parquet(f"{out}/edges").select(*ref.EDGE_COLS).collect()]
    return nodes, edges


def check_graph(ctx: Ctx, name: str, got, want) -> bool:
    """Digest equality of (nodes, edges) row sets."""
    ok = ref.graph_digest(*got) == ref.graph_digest(*want)
    detail = "" if ok else (f"nodes {ref.diff_rows(got[0], want[0])}; "
                            f"edges {ref.diff_rows(got[1], want[1])}")
    return ctx.check(name, ok, detail)


# ---------------------------------------------------------------- workloads


class Workload:
    """One closed-loop client. ``op`` runs one job or batch and returns the
    documents it completed."""

    def __init__(self, ctx: Ctx, corpus: gen.Corpus):
        self.ctx, self.corpus, self.name = ctx, corpus, ctx.workload
        self.extract = ref.NoteExtractor(ctx.vocab)

    @property
    def spark(self):
        return self.ctx.spark

    def prepare(self) -> None:
        pass

    def reference_ready(self) -> None:
        """Called after the warm-up job, before the timed jobs."""

    def op(self, k: int) -> int:
        raise NotImplementedError

    def final_checks(self) -> None:
        pass

    def sections(self) -> list[str | None]:
        """Each note's HPI section, for the corpus disclosure."""
        return [self.extract(n.text)[0] for n in self.corpus.notes]

    def close(self) -> None:
        pass

    def ledger_inputs(self) -> tuple[str, str, list]:
        return str(self.ctx.inputs / "docs"), str(self.ctx.inputs / "meta"), self.corpus.notes

    def ledger_out(self) -> str:
        """Where the ledger's ``materialize_graph`` writes."""
        return str(self.ctx.work / "ledger-graph")


class Build(Workload):
    """read parquet -> run_pipeline -> materialize_graph. The warm-up job
    reads the first ``1 / SMALL_SHARE`` of the notes (a traced run's
    full-input graph comes from the ledger); the reference for a seeded
    ``CHECKED_SHARE`` of the episodes is extracted in worker processes
    beside the warm-up job."""

    def prepare(self):
        self.out = str(self.ctx.work / "graph")
        self.counts: dict[int, tuple[int, int]] = {}
        episodes = sorted({n.episode_id for n in self.corpus.notes})
        share = CHECKED_SHARE[self.name]
        if share < 1:
            rng = random.Random(f"checked-{self.ctx.args.seed}")
            episodes = rng.sample(episodes, round(share * len(episodes)))
        self.checked = set(episodes)
        self.checked_notes = [n for n in self.corpus.notes if n.episode_id in self.checked]
        self.background = ref.BackgroundExtraction(
            [n.text for n in self.checked_notes], [n.text for n in self.corpus.notes],
            str(self.ctx.vocab_csv), CORES)
        self.n_small = len(self.corpus.notes) // SMALL_SHARE
        self.small_inputs = self.ctx.work / "small-input"
        _write_inputs(gen.Corpus(self.corpus.notes[: self.n_small], self.corpus.params),
                      self.small_inputs, CORES)

    def reference_ready(self):
        memo, self.section_of = self.background.result()
        self.extract.prefill(memo)
        self.want = ref.expected_graph(self.checked_notes, self.extract)

    def sections(self):
        return [self.section_of[n.text] for n in self.corpus.notes]

    def ledger_out(self):
        return self.out  # checked in final_checks

    def close(self):
        if hasattr(self, "background"):
            self.background.close()

    def op(self, k):
        from llacie_spark.materialize import materialize_graph
        from llacie_spark.pipeline import run_pipeline

        tr = self.ctx.tracer
        small = k == 0
        inputs = self.small_inputs if small else self.ctx.inputs
        with tr.span("io.read_inputs"):
            docs = self.spark.read.parquet(str(inputs / "docs"))
            meta = self.spark.read.parquet(str(inputs / "meta"))
        with tr.span("pipeline.run_pipeline"):
            triples = run_pipeline(docs, meta, self.ctx.vocab)
        with tr.span("materialize.materialize_graph"):
            stats = materialize_graph(triples, self.out)
        if small:
            return self.n_small
        self.counts[k] = (stats["nodes"], stats["edges"])
        return len(self.corpus.notes)

    def final_checks(self):
        nodes, edges = read_graph(self.spark, self.out)
        got = (len(nodes), len(edges))
        bad = {k: c for k, c in self.counts.items() if c != got}
        self.ctx.check("every job's materialize node/edge counts == the graph read back",
                       not bad, f"{bad} != {got}" if bad else "")
        self.ctx.check("graph is closed (every edge end is a node, every node has an edge)",
                       *ref.closed_graph(nodes, edges))
        want_nodes, want_edges, _info = self.want
        check_graph(self.ctx, f"graph of {len(self.checked)} episodes == plain-Python reference",
                    ref.episode_subgraph(nodes, edges, self.checked), (want_nodes, want_edges))


class Ingest(Workload):
    """Fused extraction upserted merge-on-read into ``extracted``, then
    ``derive_batch``; maintenance every ``MAINTAIN_EVERY`` batches; a
    bucket-pruned read of a few episodes' edges after each batch."""

    def prepare(self):
        from llacie_spark.io import SnapshotCatalog

        self.cat = SnapshotCatalog(str(self.ctx.work / "catalog"))
        self.done = -1
        self.read_s: list[float] = []

    def op(self, k):
        from pyspark.sql import functions as F

        from llacie_spark.corpus import assemble_text
        from llacie_spark.incremental import derive_batch, maintain_graph
        from llacie_spark.pipeline import fused_extract

        if k >= self.corpus.params.n_batches:
            raise RuntimeError("generated batches exhausted")
        spark, tr, cat = self.spark, self.ctx.tracer, self.cat
        docs = spark.read.parquet(str(self.ctx.inputs / "docs" / f"batch={k}"))
        meta = (spark.read.parquet(str(self.ctx.inputs / "meta"))
                .where(F.col("batch") <= k).drop("batch"))
        with tr.span("io.upsert"):
            cat.upsert(
                spark, fused_extract(assemble_text(docs), self.ctx.vocab).drop("note_text"),
                "extracted", "doc_id", n_buckets=STAGE_BUCKETS, merge_on_read=True,
            )
        with tr.span("incremental.derive_batch"):
            derive_batch(spark, cat, docs.select("doc_id"), meta, n_buckets=GRAPH_BUCKETS)
        if (k + 1) % MAINTAIN_EVERY == 0:
            with tr.span("incremental.maintenance"):
                cat.maybe_split(spark, "extracted", target_bucket_bytes=SPLIT_TARGET_BYTES)
                cat.vacuum("extracted", older_than_s=600)
                maintain_graph(spark, cat, target_bucket_bytes=SPLIT_TARGET_BYTES)
        self.done = k
        return self.corpus.params.batch_docs

    def after_op(self, k):
        """The consumer read: a few episodes' edges, bucket-pruned (timed
        apart from the batch latency)."""
        eps = sorted({n.episode_id for n in self.corpus.batch(k)})[:3]
        keys = self.spark.createDataFrame([(f"episode:{e}",) for e in eps], "subj string")
        t = time.perf_counter()
        with self.ctx.tracer.span("io.read_pruned"):
            df = self.cat.read_stage_pruned(self.spark, "edges", keys_df=keys)
            if df is not None:
                df.join(keys, "subj", "semi").collect()
        self.read_s.append(time.perf_counter() - t)

    def final_checks(self):
        from llacie_spark.incremental import export_graph
        from llacie_spark.materialize import materialize_graph
        from llacie_spark.pipeline import run_pipeline
        from pyspark.sql import functions as F

        spark, k = self.spark, self.done
        inc_out, one_out = str(self.ctx.work / "export"), str(self.ctx.work / "oneshot")
        self.ctx.op("export_graph", lambda: export_graph(spark, self.cat, inc_out))
        docs = spark.read.parquet(str(self.ctx.inputs / "docs")).where(F.col("batch") <= k).drop("batch")
        meta = spark.read.parquet(str(self.ctx.inputs / "meta")).where(F.col("batch") <= k).drop("batch")
        self.ctx.op("one-shot materialize",
                    lambda: materialize_graph(run_pipeline(docs, meta, self.ctx.vocab), one_out))
        inc = read_graph(spark, inc_out)
        check_graph(self.ctx, "incremental export == one-shot", inc, read_graph(spark, one_out))
        notes = [n for n in self.corpus.notes if n.batch <= k]
        nodes, edges, _ = ref.expected_graph(notes, self.extract)
        check_graph(self.ctx, "incremental export == plain-Python reference", inc, (nodes, edges))

    def ledger_inputs(self):
        return (str(self.ctx.inputs / "docs" / "batch=0"), str(self.ctx.inputs / "meta"),
                self.corpus.batch(0))


class NearDup(Workload):
    """assemble_text -> jaccard_pairs, minhash_dedup_pairs, simhash_pairs,
    dedup_keep_best. Each repetition reads a fresh copy of the input, so the
    shingle explosion is paid cold every time."""

    def prepare(self):
        self.texts = {n.doc_id: n.text for n in self.corpus.notes}
        self.quality = {d: float(len(t)) for d, t in self.texts.items()}
        self.exact = ref.exact_jaccard_pairs(self.texts)
        self.want_keep = ref.keep_best(self.exact, self.quality)
        self.recall: dict[str, list[float]] = {"minhash": [], "simhash": []}

    def before_op(self, k):
        src = self.spark.read.parquet(str(self.ctx.inputs / "docs"))
        self.copy = str(self.ctx.work / f"neardup-copy-{k}")
        src.write.parquet(self.copy)

    def op(self, k):
        from pyspark.sql import functions as F

        from llacie_spark.corpus import assemble_text
        from llacie_spark.operators import dedup

        tr = self.ctx.tracer
        text = assemble_text(self.spark.read.parquet(self.copy)).select(
            "doc_id", F.col("note_text").alias("text"))
        with tr.span("dedup.jaccard_pairs"):
            jac_df = dedup.jaccard_pairs(text)
            jac = {(r.doc_a, r.doc_b): r.jaccard for r in jac_df.collect()}
        with tr.span("dedup.minhash_dedup"):
            mh = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.minhash_dedup_pairs(text).collect()}
        with tr.span("dedup.simhash_pairs"):
            sh = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(text).collect()}
        with tr.span("dedup.keep_best"):
            quality = text.select("doc_id", F.length("text").cast("double").alias("quality"))
            keep = {tuple(r) for r in dedup.dedup_keep_best(jac_df, quality).collect()}
        if jac != self.exact:
            raise AssertionError(f"jaccard pairs {ref.diff_rows(list(jac), list(self.exact))}")
        if any(p not in self.exact or self.exact[p] != j for p, j in mh.items()):
            raise AssertionError("minhash returned a pair that is not an exact near-dup")
        if keep != self.want_keep:
            raise AssertionError(f"keep-best rows {ref.diff_rows(list(keep), list(self.want_keep))}")
        n = max(1, len(self.exact))
        self.recall["minhash"].append(len(set(mh) & set(self.exact)) / n)
        self.recall["simhash"].append(len(sh & set(self.exact)) / n)
        return len(self.texts)

    def final_checks(self):
        ok = all(r == self.recall["minhash"][0] for r in self.recall["minhash"])
        self.ctx.check("minhash recall stable across repetitions", ok)


KINDS = {
    "build_distinct": Build,
    "build_episodes": Build,
    "ingest_incremental": Ingest,
    "near_dup_notes": NearDup,
}


# ---------------------------------------------------------------- loop


def warm_up(ctx: Ctx, wl: Workload) -> None:
    """Operation 0: checked like the others, not timed. On a 4-core host
    the first job in a fresh session runs 20-30 % slower than the next. A
    traced run records this job's spans."""
    if hasattr(wl, "before_op"):
        wl.before_op(0)
    with ctx.tracer.span("job"):
        n = ctx.op(f"{wl.name} op 0 (warm-up)", lambda: wl.op(0))
    if n is not None and hasattr(wl, "after_op"):
        ctx.op("read after op 0", lambda: wl.after_op(0))


def closed_loop(ctx: Ctx, wl: Workload, seconds: float, rss: RssSampler,
                stage: StageMetrics) -> dict:
    """One client: each operation starts when the previous one finished,
    for ``seconds`` and at least ``MIN_REPS`` operations (from operation 1
    on; 0 was the warm-up)."""
    reps, k = [], 1
    c0 = _cpu_stat()
    t_end = time.perf_counter() + seconds
    while True:
        if hasattr(wl, "before_op"):
            wl.before_op(k)
        stage.set_group(f"op-{k}")
        rss.active.set()
        s0, t = _cpu_stat(), time.perf_counter()
        n = ctx.op(f"{wl.name} op {k}", lambda: wl.op(k))
        dt = time.perf_counter() - t
        rss.active.clear()
        steal = _steal_pct(s0, _cpu_stat())
        print(f"op {k}: {dt:.3f}s, steal {steal}%", flush=True)
        if n is not None and hasattr(wl, "after_op"):
            ctx.op(f"read after op {k}", lambda: wl.after_op(k))
        if n is not None:
            reps.append((dt, n))
        k += 1
        if time.perf_counter() >= t_end and len(reps) >= MIN_REPS:
            break
        if k > 4 * MIN_REPS and not reps:
            break  # every operation fails: stop early
    return {"reps": reps, "steal_pct": _steal_pct(c0, _cpu_stat()),
            "groups": [f"op-{i}" for i in range(1, k)]}


def docs_per_s(wl: Workload, res: dict) -> float:
    reps = res["reps"]
    if not reps:
        return 0.0
    if isinstance(wl, Ingest):  # documents ingested over total ingest wall
        return sum(n for _dt, n in reps) / sum(dt for dt, _n in reps)
    return statistics.median(n / dt for dt, n in reps)


# ---------------------------------------------------------------- gold


def gold_chain(ctx: Ctx) -> tuple[float, float]:
    """100-note fixture -> reference_documents -> run_pipeline ->
    confusion_counts against the gold labels, max line 10. Untraced runs
    only, beside the warm-up job."""
    from llacie_spark.corpus import reference_doc_meta, reference_documents
    from llacie_spark.evaluate import confusion_counts
    from llacie_spark.gold import import_gold
    from llacie_spark.pipeline import run_pipeline

    spark, vocab = ctx.spark, ctx.vocab
    fixture = str(ctx.root / "fixtures" / "admission-100.txt")
    triples = run_pipeline(reference_documents(spark, fixture), reference_doc_meta(spark, 100), vocab)
    concepts = spark.createDataFrame(vocab.to_rows())
    gold = import_gold(spark, str(ctx.root / "fixtures" / "gold_labels_admission100.csv"), concepts)
    cc = confusion_counts(triples, gold, n_terms=len(vocab), max_line_num=10)
    return cc.precision, cc.recall


# ---------------------------------------------------------------- ledger


def ledger(ctx: Ctx, wl: Workload) -> dict:
    """Each layer's public function on the workload's inputs, one span per
    layer call; returns the per-layer metrics."""
    from pyspark.sql import functions as F

    from llacie_spark.corpus import assemble_text
    from llacie_spark.incremental import derive_batch, maintain_graph
    from llacie_spark.io import SnapshotCatalog
    from llacie_spark.materialize import materialize_graph
    from llacie_spark.operators import dedup
    from llacie_spark.operators.graph import connected_components
    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi
    from llacie_spark.pipeline import episode_triples, fused_extract
    from llacie_spark.scorer import GazetteerScorer

    spark, tr, vocab, work = ctx.spark, ctx.tracer, ctx.vocab, ctx.work
    docs_path, meta_path, all_notes = wl.ledger_inputs()
    notes = all_notes[:LEDGER_DOCS]
    ids = [n.doc_id for n in notes]
    m: dict[str, float] = {}
    noop = {"format": "noop", "mode": "overwrite"}

    def timed(name, fn, default=None):
        """One layer call, counted like any operation: a call that raises
        is a failure and the ledger goes on with ``default``."""
        with tr.span(name):
            t = time.perf_counter()
            out = ctx.op(f"ledger {name}", fn)
            m[f"{name}_s"] = time.perf_counter() - t
        return default if out is None else out

    id_df = spark.createDataFrame([(d,) for d in ids], "doc_id string")
    meta = spark.read.parquet(meta_path)
    if "batch" in meta.columns:
        meta = meta.drop("batch")
    # the job's layers one at a time over the workload's whole input, so
    # that assemble + fused extract + materialize add up to about one job
    with_text = assemble_text(spark.read.parquet(docs_path)).persist()
    timed("corpus.assemble_text", lambda: with_text.count())

    identity = F.pandas_udf(lambda s: s, "string")
    timed("pipeline.arrow_hop",
          lambda: with_text.select(identity("note_text")).write.save(**noop))

    # the Python layers in this process, one core, per document
    texts = [n.text for n in notes]
    with tr.span("sections"):
        t = time.perf_counter()
        cleaned = [clean_note_text(x) for x in texts]
        t1 = time.perf_counter()
        sections = [extract_short_hpi(c) or None for c in cleaned]
        t2 = time.perf_counter()
    m["sections.clean_us_per_doc"] = 1e6 * (t1 - t) / len(texts)
    m["sections.extract_us_per_doc"] = 1e6 * (t2 - t1) / len(texts)
    m["sections.hit_frac"] = sum(s is not None for s in sections) / len(texts)
    present = [s for s in sections if s]
    scorer = GazetteerScorer(canonicalize=vocab.find_terms)
    with tr.span("scorer"):
        t = time.perf_counter()
        mentions = scorer.score_batch(present)
        dt = time.perf_counter() - t
    m["scorer.us_per_section"] = 1e6 * dt / max(1, len(present))
    m["scorer.mentions_per_section"] = sum(map(len, mentions)) / max(1, len(present))
    with tr.span("vocab"):
        t = time.perf_counter()
        for ms in mentions:
            vocab.find_terms("\n".join(ms))
        dt = time.perf_counter() - t
    flat = [x for ms in mentions for x in ms]
    m["vocab.find_terms_us_per_doc"] = 1e6 * dt / max(1, len(mentions))
    m["vocab.link_hit_frac"] = sum(bool(vocab.find_terms(x)) for x in flat) / max(1, len(flat))

    linked = fused_extract(with_text, vocab).persist()
    timed("pipeline.fused_extract", lambda: linked.count())
    timed("pipeline.episode_triples",
          lambda: episode_triples(linked, meta).write.save(**noop))
    m["pipeline.qualifying_frac"] = ref.expected_graph(notes, wl.extract)[2]["qualifying_frac"]
    out = wl.ledger_out()
    timed("materialize.graph", lambda: materialize_graph(episode_triples(linked, meta), out))
    m["materialize.files_written"], m["materialize.bytes_written"] = _dir_stats(Path(out))
    m["pipeline.fused_extract_share"] = m["pipeline.fused_extract_s"] / (
        m["corpus.assemble_text_s"] + m["pipeline.fused_extract_s"] + m["materialize.graph_s"])

    # io + incremental, over the first LEDGER_DOCS documents: two
    # merge-on-read upserts (a base, then a delta over half the keys), then
    # one derive over every staged document
    cat = SnapshotCatalog(str(work / "ledger-catalog"))
    ext = linked.join(id_df, "doc_id", "semi").drop("note_text")
    up_s, up_bytes = 0.0, 0
    for part in (ext, ext.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)):
        before = _dir_stats(work / "ledger-catalog")[1]
        with tr.span("io.upsert"):
            t = time.perf_counter()
            cat.upsert(spark, part, "extracted", "doc_id", n_buckets=STAGE_BUCKETS,
                       merge_on_read=True)
            up_s += time.perf_counter() - t
        up_bytes += _dir_stats(work / "ledger-catalog")[1] - before
    st = timed("incremental.derive_batch",
               lambda: derive_batch(spark, cat, id_df, meta, n_buckets=GRAPH_BUCKETS),
               default={"episodes": 0, "retracted": 0})
    m.update({"io.upsert_s": up_s, "io.upsert_bytes_written": up_bytes,
              "incremental.episodes_recomputed": st["episodes"],
              "incremental.retracted": st["retracted"]})
    keys = spark.createDataFrame([(d,) for d in ids[:5]], "doc_id string")
    timed("io.read_pruned",
          lambda: cat.read_stage_pruned(spark, "extracted", keys_df=keys).count())
    deltas = (cat.current_snapshot("extracted") or {}).get("deltas") or {}
    m["io.delta_generations"] = max((len(v) for v in deltas.values()), default=0)
    timed("io.compact", lambda: cat.compact(spark, "extracted", min_deltas=1))
    timed("incremental.maintain_graph",
          lambda: maintain_graph(spark, cat, target_bucket_bytes=1 << 10,
                                 compact_min_deltas=1))
    linked.unpersist()
    with_text.unpersist()

    # dedup + graph, cold: a fresh copy of the input
    copy = str(work / "ledger-dedup-input")
    dedup_ids = id_df.limit(LEDGER_DEDUP_DOCS)
    spark.read.parquet(docs_path).join(dedup_ids, "doc_id", "semi").write.parquet(copy)
    text = assemble_text(spark.read.parquet(copy)).select("doc_id", F.col("note_text").alias("text"))
    pairs = timed("dedup.jaccard_pairs", lambda: dedup.jaccard_pairs(text).collect(), [])
    verified = timed("dedup.minhash_dedup", lambda: dedup.minhash_dedup_pairs(text).collect(), [])
    n_cand = timed("dedup.minhash_candidates",
                   lambda: dedup.minhash_candidate_pairs(dedup.minhash_signatures(text)).count(), 0)
    timed("dedup.simhash_pairs", lambda: dedup.simhash_pairs(text).collect())
    m["dedup.minhash_candidates"] = n_cand
    m["dedup.minhash_precision"] = len(verified) / n_cand if n_cand else 1.0
    pair_df = spark.createDataFrame([(r.doc_a, r.doc_b) for r in pairs] or [("a", "a")],
                                    "doc_a string, doc_b string")
    quality = text.select("doc_id", F.length("text").cast("double").alias("quality"))
    timed("dedup.keep_best", lambda: dedup.dedup_keep_best(pair_df, quality).collect())
    timed("graph.connected_components",
          lambda: connected_components(pair_df, src="doc_a", dst="doc_b").collect())
    return m


# ---------------------------------------------------------------- run


def run(args, root: Path, work: Path) -> int:
    ctx = Ctx(args, root, work)
    templates = gen.load_templates(root)
    params = PARAMS[args.workload]
    corpus = GENERATORS[args.workload](templates, params, args.seed)

    t_start = time.perf_counter()

    def phase(name):
        print(f"[{time.perf_counter() - t_start:7.2f}s] {name}", flush=True)

    rss = wl = None
    try:
        su = setup(ctx, corpus)
        phase("set up")
        wl = KINDS[args.workload](ctx, corpus)
        wl.prepare()
        stage = StageMetrics(ctx.spark)
        stage.set_group("op-0")
        c0 = _cpu_stat()
        if args.trace:
            # spans on from here: the warm-up job, then the ledger
            ctx.tracer.enabled = True
            warm_up(ctx, wl)
            phase("warm-up job")
        else:
            # the gold figures are end-to-end metrics; neither the gold chain
            # nor the warm-up job is timed, and most of what each costs is
            # first-use work in the JVM (class loading, code generation,
            # compilation) that overlaps well, so they run side by side
            with ThreadPoolExecutor(max_workers=1) as pool:
                gold_job = pool.submit(gold_chain, ctx)
                warm_up(ctx, wl)
                gold_pr = ctx.op("gold chain", gold_job.result)
            phase("gold chain and warm-up job")
        wl.reference_ready()
        disclosure = gen.describe(corpus, wl.sections())
        disclosure["input_partitions"] = (
            ctx.spark.read.parquet(str(ctx.inputs / "docs")).rdd.getNumPartitions())
        print("corpus " + json.dumps(disclosure), flush=True)
        phase("reference ready")
        if args.trace:
            stage.set_group("ledger")
            with ctx.tracer.span("ledger"):
                layer = ledger(ctx, wl)
            ctx.tracer.enabled = False
            phase("ledger done")
        else:
            from pyspark import SparkContext

            rss = RssSampler(SparkContext._gateway.proc.pid)
            res = closed_loop(ctx, wl, args.seconds, rss, stage)
            lat = [dt for dt, _n in res["reps"]]
            t_val, t_label = tail(lat) if lat else (0.0, "n=0")
            print(f"loop: {len(res['reps'])} ops, steal {res['steal_pct']}%, "
                  f"latencies {[round(dt, 3) for dt in lat]}, "
                  f"batch_tail_s is {t_label}, "
                  f"spark tasks failed {stage.tasks_failed(res['groups'])}", flush=True)
        wl.final_checks()
        phase("checks done")
        if not args.trace:
            p, r = gold_pr or (0.0, 0.0)
            ctx.check("gold precision/recall >= 0.95", p >= GOLD_FLOOR and r >= GOLD_FLOOR,
                      f"P={p:.4f} R={r:.4f}")
        failed_frac = ctx.failed / max(1, ctx.attempted)
        if not args.trace:
            metrics = {
                "setup_s": (su["setup_s"], "s"),
                "docs_per_s": (docs_per_s(wl, res), "1/s"),
                "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
                "gold_precision": (p, "ratio"),
                "gold_recall": (r, "ratio"),
                "ok_ops_frac": (1.0 - failed_frac, "ratio"),
            }
            if isinstance(wl, Ingest):  # per-batch latency: ingest only
                metrics["batch_p50_s"] = (_median(lat), "s")
                metrics["batch_tail_s"] = (t_val, "s")
        else:
            ctx.tracer.write(root / ".perfbench_work" / "traces" / f"{args.workload}-s{args.seed}.json")
            summary = ctx.op("spark REST summary", lambda: stage.rest_summary(["op-0"])) or {}
            layer.update({
                "session.prewarm_s": su["prewarm_s"],
                "spark.shuffle_write_bytes": summary.get("shuffle_write_bytes", 0),
                "spark.spill_bytes": summary.get("spill_bytes", 0),
                "spark.task_skew": summary.get("task_skew", 0.0),
                "spark.tasks_failed": stage.tasks_failed(["op-0", "ledger"]),
                "trace.coverage": ctx.tracer.coverage(),
                "trace.overhead_frac": ctx.tracer.overhead_frac(),
                "failed_ops_frac": failed_frac,
                "host.steal_pct": _steal_pct(c0, _cpu_stat()),
                "gen.distinct_hpi_ratio": disclosure["distinct_hpi_ratio"],
            })
            if isinstance(wl, Ingest):
                layer["io.read_pruned_consumer_s"] = _median(wl.read_s)
            if isinstance(wl, NearDup):
                layer["dedup.minhash_recall"] = _median(wl.recall["minhash"])
                layer["dedup.simhash_recall"] = _median(wl.recall["simhash"])
            metrics = {k: (v, _unit(k)) for k, v in layer.items()}
        for name, (v, unit) in metrics.items():
            print(f"{name} = {v} {unit}", flush=True)
        correct = ctx.failed == 0
        if not correct:
            print("failures:\n  " + "\n  ".join(ctx.notes_fail), flush=True)
        print(json.dumps({
            "correct": correct,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0 if correct else 1
    finally:
        if rss is not None:
            rss.close()
        if wl is not None:
            wl.close()
        shutdown(ctx)


_COUNTS = {
    "materialize.files_written", "io.delta_generations", "incremental.episodes_recomputed",
    "incremental.retracted", "dedup.minhash_candidates", "spark.tasks_failed",
}


def _unit(name: str) -> str:
    if name in _COUNTS:
        return "count"
    if name.endswith("_s"):
        return "s"
    if ".us_per_" in name or "_us_per_" in name:
        return "us"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    return "ratio"
