"""Cross-lane differential harness: one graph, whichever lane builds it.

A seeded world generator writes 200-400 notes per seed, each seed in its
own range of episode and doc ids, all seeds in ONE corpus. Three lanes
build the graph once each over that corpus:

- one-shot: ``run_pipeline`` (winner-first) into ``materialize_graph``;
- staged: per seed, a random split of its notes into batches applied in
  random order, as ``run_kg --stage-root`` runs them (pending log,
  ``fused_extract`` + upsert into ``extracted``, ``derive_pending``; the
  first batch lands on an empty ``edges`` table), then ``export_graph``;
- reference: ``perfbench/reference.py``'s plain-Python ``expected_graph``.

Each seed is compared on its own (nodes and edges as multisets, without
the ``updated_at`` stamp), so a failure names its seed. Every seed holds
each case the derivation can get wrong; ``test_world_covers_every_case``
keeps the generator from drifting into a world that no longer does.
"""

import importlib.util
import random
from bisect import bisect
import sys
from collections import Counter
from datetime import datetime, timedelta
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parents[1]
SEEDS = list(range(20))
ROUNDS = 2  # the batches each seed's notes are split into
EP_STRIDE = 10_000  # seed s owns episodes [s * EP_STRIDE, (s + 1) * EP_STRIDE)
DAY = 86_400
T0 = datetime(3000, 1, 1)
EDGE_COLS = [
    "subj", "pred", "obj", "weight", "line_number", "provenance_doc",
    "stage", "strategy", "strategy_version", "subj_bucket",
]
# HPI sections that name no vocabulary term: winners with zero matches
ZERO_MATCH = [
    "Admission Note\n\nHistory of Present Illness:\nThe patient was transferred "
    "from an outside hospital for continuity of care. Records were reviewed "
    "with the family.\n\nPast Medical History:\nHypertension.",
    "H&P\n\nHPI: Patient arrives by private car accompanied by a daughter. "
    "The outside chart was requested.\n\nPlan:\nAdmit to medicine.",
]
CASES = (
    "tie", "fails_f1", "fails_f2", "fails_f4", "at_24h", "no_hpi",
    "zero_match_winner", "late_displace", "late_retract", "all_filtered",
)


def _reference():
    name = "perfbench_reference"
    if name not in sys.modules:
        spec = importlib.util.spec_from_file_location(name, REPO / "perfbench" / "reference.py")
        sys.modules[name] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sys.modules[name])
    return sys.modules[name]


def _pools(corpus_notes, extract):
    """Note texts by what extraction makes of them: an HPI with matches, no
    HPI at all, an HPI with zero matches."""
    from llacie_spark.operators.sections import HPI_START_REGEX

    pools = {"hpi": [], "none": [], "zero": []}
    candidates = corpus_notes + [HPI_START_REGEX.sub("Narrative", t) for t in corpus_notes[:12]]
    for text in candidates + ZERO_MATCH:
        sec, _mentions, matches = extract(text)
        pools["none" if sec is None else "hpi" if matches else "zero"].append(text)
    assert all(len(p) >= 2 for p in pools.values()), {k: len(p) for k, p in pools.items()}
    return pools


def _episode_notes(rng, kind, pools):
    """(delta_s or None, pool, note_type, infection, excl) for one episode's
    notes; ``kind`` names the case the episode is built around."""
    hp = lambda d, pool="hpi": (d, pool, "H&P", True, False)  # noqa: E731
    if kind == "tie":  # same earliest delta: the smaller doc_id wins
        d = rng.choice([0, 1800, 3600])
        return [hp(d), hp(d), hp(d + rng.choice([60, 7200]))]
    if kind == "f1":  # an earlier, richer note of another type must not win
        return [(0, "hpi", rng.choice(["Progress", "Consult"]), True, False), hp(3600)]
    if kind == "f2":  # a failed cohort flag filters every note of the episode
        bad = rng.choice([(False, False), (True, True)])
        return [(d, "hpi", "H&P", *bad) for d in (0, 3600)]
    if kind == "f4":  # exactly 24 h is out; only notes at or past it carry an HPI
        return [hp(DAY), hp(DAY + 3600), hp(600, "none")]
    if kind == "no_hpi_first":  # the earliest passing note has no HPI section
        return [hp(-1800, "none"), hp(0, "none"), hp(7200)]
    if kind == "zero_first":  # the winner carries zero matches: no edges
        return [hp(0, "zero"), hp(3600)]
    if kind in ("displace", "retract"):  # the winner arrives in a later batch
        return [hp(7200), hp(3600, "hpi" if kind == "displace" else "zero")]
    # free-form: 1-8 notes over every value the filters look at
    out = []
    for _ in range(rng.randint(1, 8)):
        out.append((
            rng.choice([None, -3600, 0, 0, 1800, 3600, 43_200, DAY - 1, DAY, DAY + 1, 2 * DAY]),
            rng.choices(["hpi", "none", "zero"], weights=[6, 3, 1])[0],
            rng.choices(["H&P", "Progress", "Consult"], weights=[6, 1, 1])[0],
            rng.random() > 0.05,
            rng.random() < 0.05,
        ))
    return out


FORCED = ("tie", "f1", "f2", "f4", "no_hpi_first", "zero_first", "displace", "retract")


def make_world(seed, pools):
    """One seed's notes: (doc_id, episode_id, text, dos, start, note_type,
    infection, excl, round). ``round`` is the batch the note is staged in:
    a random split into ``ROUNDS`` batches, applied in random order."""
    rng = random.Random(seed)
    order = rng.sample(range(ROUNDS), ROUNDS)  # batch -> the round it is applied in
    cuts = sorted(rng.random() for _ in range(ROUNDS - 1))  # uneven batch sizes
    notes, ep = [], seed * EP_STRIDE
    kinds, size = list(FORCED) * 2, rng.randint(200, 300)
    while len(notes) < size or kinds:
        kind = kinds.pop() if kinds else "free"
        start = T0 + timedelta(days=rng.randint(0, 300), seconds=rng.randint(0, DAY))
        spec = _episode_notes(rng, kind, pools)
        rounds = [order[bisect(cuts, rng.random())] for _ in spec]
        if kind in ("displace", "retract"):
            # the later-delta note lands first, the winner in the last batch
            rounds = [0, ROUNDS - 1]
        for i in rng.sample(range(len(spec)), len(spec)):  # doc ids in random order
            d, pool, note_type, infection, excl = spec[i]
            notes.append(SimpleNamespace(
                episode_id=ep, text=rng.choice(pools[pool]),
                start=start, dos=None if d is None else start + timedelta(seconds=d),
                note_type=note_type, infection=infection, excl=excl, round=rounds[i],
            ))
        ep += 1
    for n, note in enumerate(notes):
        note.doc_id = f"s{seed:02d}-{n:04d}"
    return notes


@pytest.fixture(scope="module")
def world(corpus_notes, vocab):
    ref = _reference()
    extract = ref.NoteExtractor(vocab)
    pools = _pools(corpus_notes, extract)
    return {s: make_world(s, pools) for s in SEEDS}, extract


def _seed_of(node_or_subj: str) -> int | None:
    kind, _, name = node_or_subj.partition(":")
    return int(name) // EP_STRIDE if kind == "episode" else None


def _by_seed(nodes, edges):
    """{seed: (episode nodes, edges)} as multisets; concept nodes under None."""
    out = {}
    for n in nodes:
        out.setdefault(_seed_of(n[0]), (Counter(), Counter()))[0][n] += 1
    for e in edges:
        out.setdefault(_seed_of(e[0]), (Counter(), Counter()))[1][e] += 1
    return out


def _read_graph(spark, out):
    nodes = [tuple(r) for r in spark.read.parquet(f"{out}/nodes").select("node_id", "kind", "name").collect()]
    edges = [tuple(r) for r in spark.read.parquet(f"{out}/edges").select(*EDGE_COLS).collect()]
    return _by_seed(nodes, edges)


@pytest.fixture(scope="module")
def lanes(spark, world, vocab, tmp_path_factory):
    from pyspark.sql import functions as F

    from llacie_spark.corpus import _interleave_spans, assemble_text
    from llacie_spark.incremental import derive_pending, export_graph, record_pending
    from llacie_spark.io import SnapshotCatalog
    from llacie_spark.materialize import materialize_graph
    from llacie_spark.pipeline import fused_extract, run_pipeline
    from llacie_spark.schemas import DOC_META, DOCUMENTS

    worlds, extract = world
    notes = [n for s in SEEDS for n in worlds[s]]
    texts = list(dict.fromkeys(n.text for n in notes))
    text_id = {t: i for i, t in enumerate(texts)}
    # the ~100 distinct texts travel once, as interleaved spans; each doc
    # joins its text's spans JVM-side
    spans = spark.createDataFrame(
        [(str(i), _interleave_spans(f"text-{i}", t)) for i, t in enumerate(texts)], DOCUMENTS
    ).withColumnRenamed("doc_id", "text_id")
    placed = spark.createDataFrame(
        [(n.doc_id, str(text_id[n.text]), n.round) for n in notes],
        "doc_id string, text_id string, round int",
    )
    docs = placed.join(F.broadcast(spans), "text_id").select("doc_id", "spans", "round").cache()
    meta = spark.createDataFrame(
        [(n.doc_id, n.episode_id, None, n.note_type, n.dos, n.start, n.infection, n.excl)
         for n in notes],
        DOC_META,
    ).cache()
    root = tmp_path_factory.mktemp("lanes")

    materialize_graph(run_pipeline(docs.drop("round"), meta, vocab), str(root / "oneshot"))

    # run_kg's staged lane, one invocation per round
    stage_root = str(root / "catalog")
    cat = SnapshotCatalog(stage_root)
    retracted = 0
    for r in range(ROUNDS):
        batch = docs.where(F.col("round") == r).drop("round")
        record_pending(batch.select("doc_id"), stage_root)
        cat.upsert(
            spark, fused_extract(assemble_text(batch), vocab).drop("note_text"),
            "extracted", "doc_id", n_buckets=8,
        )
        retracted += derive_pending(spark, cat, stage_root, meta)["retracted"]
    export_graph(spark, cat, str(root / "staged"))
    docs.unpersist()
    meta.unpersist()

    nodes, edges, _info = _reference().expected_graph(notes, extract)
    return {
        "oneshot": _read_graph(spark, root / "oneshot"),
        "staged": _read_graph(spark, root / "staged"),
        "reference": _by_seed(nodes, edges),
        "retracted": retracted,
    }


@pytest.mark.parametrize("seed", SEEDS, ids=[f"seed{s:02d}" for s in SEEDS])
def test_lanes_build_one_graph(lanes, seed):
    empty = (Counter(), Counter())
    want_nodes, want_edges = lanes["reference"].get(seed, empty)
    assert want_edges, f"seed {seed}: the reference graph is empty"
    for lane in ("oneshot", "staged"):
        got_nodes, got_edges = lanes[lane].get(seed, empty)
        assert got_edges == want_edges, (
            f"seed {seed}, {lane} lane: {sum((want_edges - got_edges).values())} edges "
            f"missing, {sum((got_edges - want_edges).values())} unexpected"
        )
        assert got_nodes == want_nodes, f"seed {seed}, {lane} lane: episode nodes differ"


def test_lanes_share_concept_nodes(lanes):
    want = lanes["reference"][None][0]
    assert lanes["oneshot"][None][0] == want
    assert lanes["staged"][None][0] == want
    assert lanes["retracted"] > 0  # the staged lane took the tombstone path


def _cases(notes, extract) -> Counter:
    """How often one seed's world holds each case of ``CASES``."""
    got = Counter()
    episodes = {}
    for n in notes:
        episodes.setdefault(n.episode_id, []).append(n)
    for eps_notes in episodes.values():
        qual = []
        for n in eps_notes:
            sec, _m, matches = extract(n.text)
            delta = None if n.dos is None else (n.dos - n.start).total_seconds()
            f1, f2 = n.note_type == "H&P", n.infection and not n.excl
            f4 = delta is not None and delta < DAY
            got["no_hpi"] += sec is None
            got["at_24h"] += delta == DAY
            if sec is not None:
                got["fails_f1"] += f2 and f4 and not f1
                got["fails_f2"] += f1 and f4 and not f2
                got["fails_f4"] += f1 and f2 and delta is not None and not f4
            if f1 and f2 and f4 and sec is not None:
                qual.append(((delta, n.doc_id), n, bool(matches)))
        if not qual:
            got["all_filtered"] += 1
            continue
        qual.sort(key=lambda q: q[0])
        (key, win, win_matches) = qual[0]
        got["tie"] += len(qual) > 1 and qual[1][0][0] == key[0]
        got["zero_match_winner"] += not win_matches
        early = [q for q in qual[1:] if q[1].round < win.round]
        got["late_displace"] += any(m for _k, _n, m in early) and win_matches
        got["late_retract"] += any(m for _k, _n, m in early) and not win_matches
    return got


def test_world_covers_every_case(world):
    worlds, extract = world
    missing = {}
    for s in SEEDS:
        notes = worlds[s]
        assert 200 <= len(notes) <= 400, (s, len(notes))
        got = _cases(notes, extract)
        if any(got[c] == 0 for c in CASES):
            missing[s] = [c for c in CASES if got[c] == 0]
    assert not missing, f"seeds missing a case: {missing}"
