"""Seeded input generator for the benchmark workloads.

Every input comes from the 100-note fixture (``fixtures/admission-100.txt``)
and a ``random.Random(seed)``; nothing here calls the pipeline, so a change to
the program can never change the inputs a seed produces. The generator owns
the text it writes and tracks the properties it plants (which notes carry an
HPI section, which episode each late note takes over), so the benchmark can
print the corpus shape next to every figure.

Parameters (:class:`GenParams`):

- ``distinct_ratio`` -- share of HPI-bearing notes whose HPI is mutated
  (sentence shuffle, abbreviation / unicode variants, list-order swaps,
  denial spans) rather than copied verbatim from a template;
- ``notes_per_episode`` -- mean notes per episode (Pareto-skewed sizes when
  above 1);
- ``no_hpi_share`` -- share of notes whose HPI header and body are removed;
- ``text_spans`` / ``media_spans`` -- (min, max) spans per document;
- ``dup_cluster_rate`` -- share of near-dup notes planted inside clusters.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

NOTE_SEPARATOR = re.compile(r"\n#{10,}\n")
# the generator's own copy of the HPI header shape in the fixture; every
# template has exactly one such header followed by a one-line body
_HPI_HEADER = re.compile(r"(History|HISTORY) (of|OF) (Present|PRESENT) (Illness|ILLNESS):")
_SENTENCE_END = re.compile(r"(?<=[.!?])\s+")

EPOCH = datetime(3000, 1, 1, tzinfo=timezone.utc)
HOUR = 3600

# forward and backward forms of the scorer's abbreviation table, so both
# directions appear in generated text
_ABBREV_SWAPS = [
    ("nausea, vomiting", "N/V"),
    ("shortness of breath", "SOB"),
    ("altered mental status", "AMS"),
    ("without", "w/o"),
]
_UNICODE_SWAPS = [("-", "‑"), ("'", "’"), ("--", "—")]
_DENIALS = [
    "denies chest pain but",
    "no fever,",
    "denies cough but with",
    "without abdominal pain,",
    "denies headache, then",
]
_DENIAL_SENTENCES = [
    "He denies {a} or {b}.",
    "She denies {a}, {b}.",
    "No {a}, no {b}.",
    "Pt denies {a} but reports {b}.",
]
_SYMPTOMS = [
    "fever", "chills", "cough", "dyspnea", "nausea", "vomiting", "diarrhea",
    "dysuria", "headache", "chest pain", "abdominal pain", "rash", "fatigue",
    "back pain", "leg swelling", "confusion", "malaise", "sore throat",
]
# HPI bodies that name no symptom: a note carrying one wins its episode's
# argmin with zero labels, which forces the incremental path to retract
ZERO_MATCH_BODIES = [
    "Patient is here for a scheduled review of chronic stable conditions.",
    "Seen today for routine medication reconciliation at the request of the family.",
    "Admitted for planned elective procedure; preoperative paperwork reviewed.",
]
NOTE_TYPES = ["H&P", "Progress Note", "Discharge Summary"]


@dataclass(frozen=True)
class GenParams:
    n_docs: int = 400
    distinct_ratio: float = 1.0
    notes_per_episode: float = 1.0
    no_hpi_share: float = 0.0
    text_spans: tuple[int, int] = (1, 4)
    media_spans: tuple[int, int] = (0, 2)
    dup_cluster_rate: float = 0.0
    filtered_share: float = 0.0  # notes failing F1/F2/F4
    batch_docs: int = 0  # ingest batches; 0 = one-shot corpus
    n_batches: int = 0


@dataclass
class Note:
    doc_id: str
    episode_id: int
    text: str
    spans: list[dict]
    note_type: str = "H&P"
    dos: datetime | None = None
    start: datetime | None = None
    infection: bool = True
    excl: bool = False
    kind: str = "template"  # template | mutated | no_hpi | zero_match | near_dup
    batch: int = 0

    def doc_row(self) -> tuple:
        return (self.doc_id, self.spans)

    def meta_row(self) -> tuple:
        return (
            self.doc_id, self.episode_id, f"patient-{self.episode_id % 9973:04d}",
            self.note_type, self.dos, self.start, self.infection, self.excl,
        )


@dataclass
class Corpus:
    notes: list[Note]
    params: GenParams

    def batch(self, k: int) -> list[Note]:
        return [n for n in self.notes if n.batch == k]


def load_templates(repo_root: Path) -> list[str]:
    text = (repo_root / "fixtures" / "admission-100.txt").read_text()
    return [n.strip() for n in NOTE_SEPARATOR.split(text) if n.strip()]


def _hpi_bounds(note: str) -> tuple[int, int, int]:
    """(header start, body start, body end) of the template's HPI."""
    m = _HPI_HEADER.search(note)
    if m is None:
        raise ValueError("template without an HPI header")
    j = m.end()
    while j < len(note) and note[j] in " \n":
        j += 1
    end = note.find("\n", j)
    return m.start(), j, len(note) if end < 0 else end


def _swap_items(sentence: str, rng: random.Random) -> str:
    items = sentence.split(", ")
    if len(items) < 3:
        return sentence
    i = rng.randrange(len(items) - 1)
    items[i], items[i + 1] = items[i + 1], items[i]
    return ", ".join(items)


def mutate_body(body: str, rng: random.Random) -> str:
    """One HPI body line -> a mutated line with the same clinical content
    shape: shuffled sentences, abbreviation and unicode variants, swapped
    list items and an inserted denial span. Never emits a double space or a
    newline, so section boundaries stay where the template had them."""
    tail = body[len(body.rstrip()):]
    sentences = [s for s in _SENTENCE_END.split(body.strip()) if s]
    head, rest = sentences[:1], sentences[1:]
    rng.shuffle(rest)
    sentences = head + rest
    k = rng.randrange(len(sentences))
    sentences[k] = _swap_items(sentences[k], rng)
    if rng.random() < 0.5:
        words = sentences[0].split(" ")
        pos = rng.randrange(1, max(2, len(words)))
        words.insert(pos, rng.choice(_DENIALS))
        sentences[0] = " ".join(words)
    else:
        a, b = rng.sample(_SYMPTOMS, 2)
        sentences.insert(rng.randrange(1, len(sentences) + 1),
                         rng.choice(_DENIAL_SENTENCES).format(a=a, b=b))
    text = " ".join(sentences)
    for long, short in _ABBREV_SWAPS:
        r = rng.random()
        if r < 0.3:
            text = text.replace(long, short)
        elif r < 0.6:
            text = text.replace(short, long)
    for plain, fancy in _UNICODE_SWAPS:
        r = rng.random()
        if r < 0.3:
            text = text.replace(plain, fancy)
        elif r < 0.5:
            text = text.replace(fancy, plain)
    return re.sub(r" {2,}", " ", text) + tail


def _spans(doc_id: str, text: str, rng: random.Random, params: GenParams) -> list[dict]:
    """Split ``text`` into text spans at paragraph boundaries and interleave
    media spans; joining the text spans with a blank line gives ``text``
    back exactly (what ``corpus.assemble_text`` does)."""
    paragraphs = text.split("\n\n")
    lo, hi = params.text_spans
    n_text = max(1, min(len(paragraphs), rng.randint(lo, hi)))
    cuts = sorted(rng.sample(range(1, len(paragraphs)), n_text - 1)) if n_text > 1 else []
    bounds = [0] + cuts + [len(paragraphs)]
    chunks = ["\n\n".join(paragraphs[a:b]) for a, b in zip(bounds, bounds[1:])]
    n_media = rng.randint(*params.media_spans)
    kinds = ["text"] * len(chunks) + ["media"] * n_media
    # media anywhere but first, text spans keep their relative order
    order = kinds[:1] + rng.sample(kinds[1:], len(kinds) - 1)
    spans, ti, mi = [], 0, 0
    for off, kind in enumerate(order):
        if kind == "text":
            spans.append({"kind": "text", "text": chunks[ti], "media_ref": "", "offset": off})
            ti += 1
        else:
            spans.append({"kind": "media", "text": "", "media_ref": f"media://{doc_id}/{mi}", "offset": off})
            mi += 1
    return spans


def _without_hpi(note: str) -> str:
    hs, _bs, be = _hpi_bounds(note)
    return note[:hs].rstrip(" ") + note[be:]


def _with_body(note: str, body: str) -> str:
    _hs, bs, be = _hpi_bounds(note)
    return note[:bs] + body + note[be:]


class _Mutator:
    """Mutated HPI notes with bodies that never repeat within one corpus."""

    def __init__(self, templates: list[str], rng: random.Random):
        self.templates, self.rng, self.seen = templates, rng, set()

    def note(self, t: int) -> str:
        note = self.templates[t]
        _hs, bs, be = _hpi_bounds(note)
        body = mutate_body(note[bs:be], self.rng)
        salt = 0
        while body.strip() in self.seen:
            salt += 1
            body = body.rstrip() + f" Symptoms first noted {salt + 1} days before arrival.  "
        self.seen.add(body.strip())
        return _with_body(note, body)


def _make_note(doc_id, episode_id, text, kind, rng, params, **meta) -> Note:
    return Note(doc_id=doc_id, episode_id=episode_id, text=text,
                spans=_spans(doc_id, text, rng, params), kind=kind, **meta)


def _episode_sizes(n_docs: int, mean: float, rng: random.Random) -> list[int]:
    """Episode sizes at evenly spaced quantiles of a Pareto with this mean,
    in seeded order: every seed gets the same size multiset, so the corpus
    shape does not move between seeds."""
    if mean <= 1:
        return [1] * n_docs
    alpha = mean / (mean - 1)
    cap = 8 * int(mean)

    def quantiles(m: int) -> list[int]:
        return [min(cap, int((1 - (i + 0.5) / m) ** (-1 / alpha))) for i in range(m)]

    # fewest episodes whose sizes cover n_docs (the sum grows with m)
    lo, hi = 1, n_docs
    while lo < hi:
        mid = (lo + hi) // 2
        if sum(quantiles(mid)) >= n_docs:
            hi = mid
        else:
            lo = mid + 1
    sizes = sorted(quantiles(lo), reverse=True)
    excess = sum(sizes) - n_docs
    while excess > 0:  # trim from the smallest episodes
        cut = min(excess, sizes[-1])
        sizes[-1] -= cut
        excess -= cut
        if not sizes[-1]:
            sizes.pop()
    rng.shuffle(sizes)
    return sizes


def _exact(n: int, share: float, rng: random.Random) -> list[bool]:
    """Exactly round(n * share) True flags in seeded positions."""
    flags = [i < round(n * share) for i in range(n)]
    rng.shuffle(flags)
    return flags


def build_corpus(templates: list[str], params: GenParams, seed: int) -> Corpus:
    """One-shot corpus: ``n_docs`` notes grouped into episodes. Shares are
    exact and templates are drawn as a shuffled cycle, so seeds differ in
    content and order, not in corpus shape."""
    rng = random.Random(seed)
    mut = _Mutator(templates, rng)
    n = params.n_docs
    sizes = _episode_sizes(n, params.notes_per_episode, rng)
    no_hpi = _exact(n, params.no_hpi_share, rng)
    distinct = _exact(n, params.distinct_ratio, rng)
    filtered = _exact(n, params.filtered_share, rng)
    cycle = [i % len(templates) for i in range(n)]
    rng.shuffle(cycle)
    notes: list[Note] = []
    i = 0
    for ep, size in enumerate(sizes, start=1):
        start = EPOCH + timedelta(days=ep)
        for _ in range(size):
            t = cycle[i]
            if no_hpi[i]:
                kind, text = "no_hpi", _without_hpi(templates[t])
            elif distinct[i]:
                kind, text = "mutated", mut.note(t)
            else:
                kind, text = "template", templates[t]
            which = i % 3 if filtered[i] else -1  # F1 note type, F2 flags, F4 window
            delta = rng.randint(-6 * HOUR, 20 * HOUR)
            i += 1
            notes.append(_make_note(
                f"doc-{i:06d}", ep, text, kind, rng, params,
                note_type=rng.choice(NOTE_TYPES[1:]) if which == 0 else "H&P",
                infection=which != 1,
                excl=False,
                start=start,
                dos=start + timedelta(seconds=delta + (30 * HOUR if which == 2 else 0)),
            ))
    return Corpus(notes, params)


def build_ingest(templates: list[str], params: GenParams, seed: int) -> Corpus:
    """A batch sequence: each batch mixes new episodes, late notes that take
    over an episode's argmin winner, and zero-match notes that take over a
    labelled episode (its edges must be retracted). Any prefix of batches is
    a consistent corpus."""
    rng = random.Random(seed)
    mut = _Mutator(templates, rng)
    notes: list[Note] = []
    # episode -> (start, winning delta, winner has labels)
    state: dict[int, tuple[datetime, int, bool]] = {}
    # templates whose HPI body is followed directly by the past medical
    # history: replacing the body leaves no symptom text in the section
    closed = [i for i, t in enumerate(templates)
              if t[_hpi_bounds(t)[2]:].lstrip().lower().startswith("past medical history")]
    doc_no = 0
    for b in range(params.n_batches):
        for _ in range(params.batch_docs):
            doc_no += 1
            doc_id = f"doc-{doc_no:06d}"
            r = rng.random()
            labelled = [e for e, s in state.items() if s[2]]
            if r < 0.55 or len(state) < 8:
                ep = len(state) + 1
                start = EPOCH + timedelta(days=ep)
                delta = rng.randint(4 * HOUR, 20 * HOUR)
                t = rng.randrange(len(templates))
                text, kind, has = mut.note(t), "mutated", True
            elif r < 0.85 or not labelled:
                ep = rng.choice(sorted(state))
                start, win, _has = state[ep]
                delta = win - rng.randint(600, 2 * HOUR)
                t = rng.randrange(len(templates))
                text, kind, has = mut.note(t), "mutated", True
            else:
                ep = rng.choice(sorted(labelled))
                start, win, _has = state[ep]
                delta = win - rng.randint(600, 2 * HOUR)
                t = rng.choice(closed)
                text = _with_body(templates[t], rng.choice(ZERO_MATCH_BODIES) + "  ")
                kind, has = "zero_match", False
            state[ep] = (start, delta, has)
            notes.append(_make_note(
                doc_id, ep, text, kind, rng, params, batch=b,
                start=start, dos=start + timedelta(seconds=delta),
            ))
    return Corpus(notes, params)


def _sentence_pool(templates: list[str]) -> list[str]:
    pool = []
    for note in templates:
        for line in note.split("\n"):
            for s in _SENTENCE_END.split(line.strip()):
                if len(s.split()) >= 6:
                    pool.append(s)
    return sorted(set(pool))


def _near_copy(text: str, rng: random.Random, edit_rate: float) -> str:
    words = text.split(" ")
    for _ in range(max(1, int(len(words) * edit_rate))):
        i = rng.randrange(len(words))
        if rng.random() < 0.5:
            words[i] = rng.choice(_SYMPTOMS).split(" ")[0]
        elif len(words) > 20:
            del words[i]
    return " ".join(words)


def build_near_dup(templates: list[str], params: GenParams, seed: int) -> Corpus:
    """Notes assembled from random fixture sentences (unrelated notes share
    almost no 3-shingles) with planted clusters of near copies."""
    rng = random.Random(seed)
    pool = _sentence_pool(templates)
    notes: list[Note] = []
    i = 0
    while i < params.n_docs:
        base = " ".join(rng.sample(pool, rng.randint(10, 18)))
        members = [base]
        if rng.random() < params.dup_cluster_rate:
            members += [_near_copy(base, rng, rng.uniform(0.01, 0.06))
                        for _ in range(rng.randint(1, 4))]
        for text in members[: params.n_docs - i]:
            i += 1
            start = EPOCH + timedelta(days=i)
            notes.append(_make_note(
                f"doc-{i:06d}", i, text, "near_dup", rng, params,
                start=start, dos=start + timedelta(hours=1),
            ))
    return Corpus(notes, params)


def describe(corpus: Corpus, sections: list[str | None]) -> dict:
    """Corpus disclosure: distinct-HPI ratio and notes-per-episode
    histogram, so a corpus property is never read as a code gain."""
    with_sec = [s for s in sections if s]
    per_ep = Counter(n.episode_id for n in corpus.notes)
    hist = Counter(per_ep.values())
    return {
        "notes": len(corpus.notes),
        "episodes": len(per_ep),
        "hpi_notes": len(with_sec),
        "distinct_hpi": len(set(with_sec)),
        "distinct_hpi_ratio": len(set(with_sec)) / max(1, len(with_sec)),
        "notes_per_episode_hist": {str(k): hist[k] for k in sorted(hist)},
        "kinds": dict(sorted(Counter(n.kind for n in corpus.notes).items())),
    }
