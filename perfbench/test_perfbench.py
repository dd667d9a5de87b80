"""Tests of the benchmark's own parts: generator, references, checks, spans.

    python3 -m pytest perfbench/test_perfbench.py -q

(from the repository root). Only ``test_subj_bucket_matches_spark`` starts
Spark.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import reference as ref  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

from llacie_spark.operators.sections import clean_note_text, extract_short_hpi  # noqa: E402
from llacie_spark.vocab import Vocab  # noqa: E402


@pytest.fixture(scope="module")
def templates():
    return gen.load_templates(ROOT)


@pytest.fixture(scope="module")
def extract():
    return ref.NoteExtractor(Vocab.from_csv(str(ROOT / "fixtures" / "vocab_pres_sx_v2.csv")))


def _serialize(corpus: gen.Corpus) -> bytes:
    rows = [
        (n.doc_row(), [v.isoformat() if hasattr(v, "isoformat") else v for v in n.meta_row()],
         n.batch)
        for n in corpus.notes
    ]
    return json.dumps(rows, sort_keys=True, ensure_ascii=False).encode()


def _section(text: str):
    return extract_short_hpi(clean_note_text(text)) or None


def _ctx():
    return workloads.Ctx(SimpleNamespace(workload="test", trace=0), ROOT, ROOT)


@pytest.mark.parametrize("workload", sorted(workloads.PARAMS))
def test_same_seed_same_inputs(templates, workload):
    build, params = workloads.GENERATORS[workload], workloads.PARAMS[workload]
    a, b = _serialize(build(templates, params, 7)), _serialize(build(templates, params, 7))
    assert a == b
    assert a != _serialize(build(templates, params, 8))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_build_distinct_has_no_duplicate_hpi(templates, seed):
    corpus = gen.build_corpus(templates, workloads.PARAMS["build_distinct"], seed)
    sections = [_section(n.text) for n in corpus.notes]
    assert all(sections)
    assert len(set(sections)) == len(sections)
    assert gen.describe(corpus, sections)["distinct_hpi_ratio"] == 1.0


def test_spans_reassemble_to_note_text(templates):
    corpus = gen.build_corpus(templates, workloads.PARAMS["build_episodes"], 5)
    for n in corpus.notes[:200]:
        texts = [s["text"] for s in sorted(n.spans, key=lambda s: s["offset"]) if s["kind"] == "text"]
        assert "\n\n".join(texts) == n.text
        assert [s["offset"] for s in n.spans] == list(range(len(n.spans)))


def test_build_episodes_shape(templates):
    corpus = gen.build_corpus(templates, workloads.PARAMS["build_episodes"], 1)
    kinds = {n.kind for n in corpus.notes}
    assert kinds == {"no_hpi", "template"}
    assert all(_section(n.text) is None for n in corpus.notes if n.kind == "no_hpi")
    sizes = gen.describe(corpus, [None] * len(corpus.notes))["notes_per_episode_hist"]
    assert max(map(int, sizes)) > 3 * 12 // 2  # skewed episode sizes


def test_ingest_plants_takeovers_and_retractions(templates, extract):
    corpus = gen.build_ingest(templates, workloads.PARAMS["ingest_incremental"], 3)
    zero = [n for n in corpus.notes if n.kind == "zero_match"]
    assert zero
    for n in zero:
        sec, _mentions, matches = extract(n.text)
        assert sec and not matches
    # some prefix retracts: an episode labelled after batch k has no edges later
    before = {e[0] for e in ref.expected_graph(corpus.batch(0) + corpus.batch(1), extract)[1]}
    upto = [n for n in corpus.notes if n.batch <= 6]
    after = {e[0] for e in ref.expected_graph(upto, extract)[1]}
    assert before - after


def test_xxhash64_vectors():
    # reference XXH64 vectors (seed 0)
    assert ref.xxhash64(b"", 0) == 0xEF46DB3751D8E999 - (1 << 64)
    assert ref.xxhash64(b"abc", 0) == 0x44BC2CF5AD770999
    long = bytes(range(256)) * 3
    assert ref.xxhash64(long, 0) != ref.xxhash64(long, 42)


def test_subj_bucket_matches_spark():
    from pyspark.sql import functions as F

    from llacie_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g"})
    subjects = [f"episode:{i}" for i in (1, 7, 42, 99999, 1234567)] + ["x" * 45, "ü" * 13]
    rows = spark.createDataFrame([(s,) for s in subjects], "s string").select(
        "s", F.pmod(F.xxhash64("s"), F.lit(64)).alias("b"), F.xxhash64("s").alias("h")
    ).collect()
    for r in rows:
        assert ref.xxhash64(r.s.encode()) == r.h
        assert ref.subj_bucket(r.s) == r.b


def _graph(notes, extract):
    nodes, edges, _ = ref.expected_graph(notes, extract)
    return nodes, edges


def test_dropped_triple_is_caught(templates, extract):
    corpus = gen.build_corpus(templates, gen.GenParams(n_docs=12), 2)
    want = _graph(corpus.notes, extract)
    ctx = _ctx()
    assert workloads.check_graph(ctx, "same", want, want)
    assert not workloads.check_graph(ctx, "dropped", (want[0], want[1][1:]), want)
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_checked_episodes_subgraph(templates, extract):
    corpus = gen.build_corpus(templates, gen.GenParams(n_docs=40), 6)
    nodes, edges = _graph(corpus.notes, extract)
    assert ref.closed_graph(nodes, edges)[0]
    checked = {n.episode_id for n in corpus.notes[::3]}
    want = _graph([n for n in corpus.notes if n.episode_id in checked], extract)
    assert ref.episode_subgraph(nodes, edges, checked) == want
    # a triple dropped from a checked episode is caught by the sample check
    inside = next(i for i, e in enumerate(edges) if e[0] in {f"episode:{x}" for x in checked})
    dropped = edges[:inside] + edges[inside + 1:]
    ctx = _ctx()
    assert not workloads.check_graph(ctx, "sample", ref.episode_subgraph(nodes, dropped, checked), want)
    # a node left behind without an edge breaks closure
    orphan = [x for x in nodes if x[0] == edges[inside][0]]
    lone = [e for e in edges if e[0] != edges[inside][0]]
    assert not ref.closed_graph(nodes, lone)[0] and orphan


def test_background_extraction_matches_in_process(templates, extract):
    notes = gen.build_corpus(templates, gen.GenParams(n_docs=12), 9).notes
    texts = [n.text for n in notes]
    bg = ref.BackgroundExtraction(texts[:6], texts, str(ROOT / "fixtures" / "vocab_pres_sx_v2.csv"),
                                  workers=2, chunk=4)
    memo, sections = bg.result()
    assert memo == {t: extract(t) for t in texts[:6]}
    assert sections == {t: extract(t)[0] for t in texts}


def test_wrong_argmin_winner_is_caught(templates, extract):
    params = gen.GenParams(n_docs=120, notes_per_episode=6.0, no_hpi_share=0.2, distinct_ratio=0.5)
    corpus = gen.build_corpus(templates, params, 4)
    want = _graph(corpus.notes, extract)
    # the latest qualifying note wins instead of the earliest
    flipped = [
        gen.Note(**{**n.__dict__, "dos": n.start - (n.dos - n.start)}) for n in corpus.notes
        if ref.qualifies(n, extract(n.text)[0])
    ]
    wrong = _graph(flipped, extract)
    assert wrong != want
    ctx = _ctx()
    assert not workloads.check_graph(ctx, "argmin", wrong, want)
    assert ctx.failed / ctx.attempted == 1.0


def test_missing_retraction_is_caught(templates, extract):
    corpus = gen.build_ingest(templates, workloads.PARAMS["ingest_incremental"], 3)
    upto = [n for n in corpus.notes if n.batch <= 6]
    want = _graph(upto, extract)
    # an incremental graph that never retracted: zero-match take-overs ignored
    stale = _graph([n for n in upto if n.kind != "zero_match"], extract)
    ctx = _ctx()
    assert not workloads.check_graph(ctx, "retraction", stale, want)
    assert ctx.failed == 1


def test_failed_operation_is_counted():
    ctx = _ctx()
    assert ctx.op("ok", lambda: 3) == 3
    assert ctx.op("boom", lambda: 1 / 0) is None
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_exact_jaccard_and_keep_best(templates):
    corpus = gen.build_near_dup(templates, workloads.PARAMS["near_dup_notes"], 1)
    texts = {n.doc_id: n.text for n in corpus.notes}
    pairs = ref.exact_jaccard_pairs(texts)
    assert pairs and all(j >= 0.8 for j in pairs.values())
    rows = ref.keep_best(pairs, {d: float(len(t)) for d, t in texts.items()})
    kept = {r[2] for r in rows}
    assert all(r[3] == (r[0] == r[2]) for r in rows)
    assert len(kept) == len({r[1] for r in rows})


def test_tail_and_self_time():
    assert workloads.tail([1.0, 2.0, 3.0])[0] == 3.0
    xs = [float(i) for i in range(1, 31)]
    v, label = workloads.tail(xs)
    assert v == 20.0 and sum(x > v for x in xs) == 10 and "n=30" in label
    tr = Tracer("w", enabled=True)
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    root = tr.spans[0]
    kids = tr.duration(tr.spans[1]) + tr.duration(tr.spans[2])
    assert tr.self_time(root) == pytest.approx(tr.duration(root) - kids, abs=1e-6)
    assert 0.0 < tr.coverage() <= 1.0


class _FakeWorkload:
    name = "fake"

    def __init__(self, fail_at=()):
        self.calls, self.fail_at = [], set(fail_at)

    def op(self, k):
        self.calls.append(k)
        if k in self.fail_at:
            raise RuntimeError("boom")
        return 10


def _fake_loop_parts():
    import threading

    rss = SimpleNamespace(active=threading.Event())
    stage = SimpleNamespace(set_group=lambda g: None)
    return rss, stage


def test_warm_up_is_checked_but_not_timed(monkeypatch):
    monkeypatch.setattr(workloads, "_steal_pct", lambda a, b: 0.0)
    ctx, wl = _ctx(), _FakeWorkload()
    rss, stage = _fake_loop_parts()
    workloads.warm_up(ctx, wl)
    res = workloads.closed_loop(ctx, wl, 0.0, rss, stage)
    assert workloads.MIN_REPS == 1
    assert wl.calls == [0, 1]
    assert len(res["reps"]) == 1 and res["groups"] == ["op-1"]
    assert (ctx.attempted, ctx.failed) == (2, 0)


def test_failed_job_is_counted_and_not_timed(monkeypatch):
    monkeypatch.setattr(workloads, "_steal_pct", lambda a, b: 0.0)
    ctx, wl = _ctx(), _FakeWorkload(fail_at={1})
    rss, stage = _fake_loop_parts()
    res = workloads.closed_loop(ctx, wl, 0.0, rss, stage)
    # job 1 fails and is not timed; job 2 is the one timed job
    assert wl.calls == [1, 2]
    assert len(res["reps"]) == 1 and res["groups"] == ["op-1", "op-2"]
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_memory_sample_counts_own_process():
    import os

    from spans import RssSampler

    sampler = RssSampler(os.getpid(), interval_s=60)
    try:
        assert sampler.sample() > 1024  # kB: this interpreter alone is over 1 MB
    finally:
        sampler.close()


def test_overhead_frac_is_span_cost_over_job_wall(monkeypatch):
    tr = Tracer("w", enabled=True)
    with tr.span("job"):
        with tr.span("a"):
            time.sleep(0.01)
    with tr.span("ledger"):
        pass
    assert 0.0 <= Tracer.span_cost(n=1000) < 1e-3
    monkeypatch.setattr(Tracer, "span_cost", staticmethod(lambda n=0: 1e-6))
    # the job and its one child, 1 us each, over the job's wall time
    assert tr.overhead_frac() == pytest.approx(2e-6 / tr.duration(tr.spans[0]))


def test_stop_all_stops_orphans():
    """A process whose parent exits first is re-parented to the subreaper,
    and stop_all stops and reaps it."""
    script = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {str(Path(__file__).resolve().parent)!r})\n"
        "from procs import become_subreaper, descendants, stop_all\n"
        "import os\n"
        "become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & exit 0'], check=True)\n"
        "left = descendants(os.getpid())\n"
        "stop_all(grace_s=2)\n"
        "print(len(left), len(descendants(os.getpid())))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=60, check=True).stdout.split()
    assert out == ["1", "0"]
