"""The scorer's rule engine is exact: a differential harness.

``GazetteerScorer`` runs each sentence on the folded path on a table in which
every pattern whose trigger (``llacie_spark.triggers``) the sentence's words
do not meet is dead. Two checks, over the same inputs:

- *checked*: each dead pattern is replaced by a checker that runs the real
  pattern on what it is asked and records any match. A recorded match is a
  pattern the engine killed where it mattered, whether or not the output
  shows it (an inserted word the engine left out, say, can change nothing
  downstream);
- *outputs*: the mentions equal those of the engine's switch on, where every
  sentence runs every pattern.

Inputs: the 600 mutated fixture sections of ``test_scorer_fold``; 2,000
sections per seed in the ``build_distinct`` shape of ``perfbench/gen.py``
(imported, never edited); a hypothesis property over sentences built from
the derived trigger words and prefixes, digits, punctuation, the words the
rewrites insert, and non-ASCII characters. Plus the soundness of
``triggers.clauses`` on its own.
"""

import importlib.util
import re
import sys
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from llacie_spark import scorer as scorer_mod
from llacie_spark.scorer import GazetteerScorer
from llacie_spark.triggers import Triggers, clauses

REPO = Path(__file__).resolve().parents[1]


class _Checker:
    """A dead pattern that runs the real one, records a match, and answers
    as a dead pattern does."""

    def __init__(self, rx, found):
        self.rx, self.found = rx, found

    def _seen(self, hit, string):
        if hit:
            self.found.append((self.rx.pattern[:60], string))

    def search(self, string, *args):
        self._seen(self.rx.search(string, *args), string)

    def match(self, string, *args):
        self._seen(self.rx.match(string, *args), string)

    def finditer(self, string, *args):
        self._seen(any(True for _ in self.rx.finditer(string, *args)), string)
        return iter(())

    def sub(self, repl, string, *args):
        self._seen(self.rx.subn(repl, string, *args)[1], string)
        return string

    def split(self, string, *args):
        self._seen(len(self.rx.split(string, *args)) > 1, string)
        return [string]


def _checked(found):
    """``_live_table`` with every dead pattern a checker, and no sentence
    skipped (a skipped sentence's producing patterns are all dead, so the
    checkers see what it would have done)."""
    build = scorer_mod._live_table.__wrapped__

    def swap(full, live):
        if live is scorer_mod.DEAD:
            return _Checker(full, found)
        if isinstance(full, (list, tuple)):
            return type(full)(swap(f, v) for f, v in zip(full, live))
        return live

    def live_table(mask):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(scorer_mod, "_PRODUCING", [0])  # never "no producing pattern"
            table = build(mask)
        full = vars(scorer_mod._FOLDED)
        return type(table)(**{k: swap(full[k], v) for k, v in vars(table).items()})

    return live_table


def _run(texts, canonicalize, mode):
    """Mentions per text: ``engine`` as shipped, ``every`` with the switch
    on, ``checked`` with dead patterns checked (then also the matches the
    checkers recorded)."""
    s = GazetteerScorer(canonicalize=canonicalize)
    found: list = []
    with pytest.MonkeyPatch.context() as m:
        if mode == "every":
            m.setattr(scorer_mod, "_EVERY_PATTERN_LIVE", True)
        elif mode == "checked":
            m.setattr(scorer_mod, "_live_table", _checked(found))
        out = s.score_batch(texts)
    return (out, found) if mode == "checked" else out


def _assert_exact(texts, canonicalize):
    want = _run(texts, canonicalize, "every")
    got = _run(texts, canonicalize, "engine")
    diffs = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    assert not diffs, f"{len(diffs)} sections differ, first: {texts[diffs[0]]!r}"
    checked, found = _run(texts, canonicalize, "checked")
    assert not found, f"{len(found)} dead pattern calls match, first: {found[0]}"
    assert checked == want
    return want


# ------------------------------------------------------------- corpora


@pytest.fixture(scope="module")
def mutated(corpus_notes):
    from test_scorer_fold import N_GENERATED, generate

    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi

    secs = [extract_short_hpi(clean_note_text(n)) for n in corpus_notes]
    return generate(secs, N_GENERATED, seed=77)


@pytest.mark.parametrize("canonical", [True, False], ids=["canonicalize", "raw"])
def test_engine_exact_on_mutated_sections(mutated, vocab, canonical):
    want = _assert_exact(mutated, vocab.find_terms if canonical else None)
    assert sum(map(len, want)) > 2 * len(mutated)


def _perfbench_gen():
    if "perfbench_gen" not in sys.modules:  # its dataclasses look their module up
        spec = importlib.util.spec_from_file_location("perfbench_gen", REPO / "perfbench" / "gen.py")
        sys.modules[spec.name] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sys.modules[spec.name])
    return sys.modules["perfbench_gen"]


@pytest.mark.parametrize("seed", [17, 9201, 9202])
def test_engine_exact_on_build_distinct_sections(vocab, seed):
    """2,000 HPI sections shaped like the ``build_distinct`` workload's (every
    note mutated, none repeated): distinct_ratio 1.0, one to four text spans."""
    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi

    gen = _perfbench_gen()
    params = gen.GenParams(n_docs=2000, distinct_ratio=1.0, text_spans=(1, 4), media_spans=(0, 2))
    corpus = gen.build_corpus(gen.load_templates(REPO), params, seed)
    secs = [s for s in (extract_short_hpi(clean_note_text(n.text)) for n in corpus.notes) if s]
    assert len(secs) == 2000
    want = _assert_exact(secs, vocab.find_terms)
    assert sum(map(len, want)) > 4 * len(secs)


# ------------------------------------------------------------- property

_ELEMENTS = sorted({e.rstrip("*") for e in scorer_mod._TRIGGERS.keys if e != "#"})
_PREFIXES = sorted(e[:-1] for e in scorer_mod._TRIGGERS.keys if e.endswith("*"))
_INSERTED = sorted(
    {w for text in [*scorer_mod._SITE_CLASS, *scorer_mod._SYMPTOM_WORD_MAP.values()] for w in text.split()}
    | {w for _, text in scorer_mod._ADJACENT for w in text.split()}
)
_SITE_WORDS = sorted({w for pat in scorer_mod._SITE_CLASS.values() for a in pat.split("|") for w in a.split()})
_PHRASES = [  # the shapes the rules look for, with the tables' own words
    *(f"{k} of the {w}" for k in scorer_mod._SYMPTOM_WORD_MAP for w in ("left leg", "rle", "calf", "foot")),
    *(f"{w} {s}" for w in ("leg", "lle", "plantar", "hand", "flank") for s in ("edema", "ache", "ulcer", "pitting edema")),
    "T 101.5", "Tmax 39.2 C", "temp 100.8", "HR 128", "RR 34", "sats 85%", "O2 sat of 88 %",
    "needs 3L nc to keep sats", "on bipap", "non-rebreather 2 yrs ago", "presented with", "p/w", "c/o",
    "prior MRSA p/w", "due to", "2/2", "because of", "but then worsened, now with", "denies", "no", "but",
    "however", "possible", "r/o", "urgent care", "was given", "vitals", "noted", "recent plantar ulcer",
    "sharp chest pain with deep breaths", "pain worse with inspirations", "deep breathing", "scratchy throat",
    "burning on urination", "urinary urgency", "foot blackening", "became painful", "after 2 days of",
    "occasional", "neighbor with cold", "x 3 days", "since yesterday", "(resolved)", "pt_id", "fièvre",
    "‑", "é", "doesn't feel", "difficulty walking", "foul-smelling drainage",
]
_TOKEN = st.one_of(
    st.sampled_from(_ELEMENTS),
    st.builds(lambda p, s: p + s, st.sampled_from(_PREFIXES), st.sampled_from(["", "s", "ed", "ing", "x", "_a"])),
    st.sampled_from(_INSERTED + _SITE_WORDS + list(scorer_mod._SYMPTOM_WORD_MAP)),
    st.sampled_from(_PHRASES),
    st.from_regex(r"\A[0-9]{1,3}(\.[0-9])?\Z"),
    st.sampled_from([",", ".", ";", ":", "/", "-", "%", "'", "(", ")", "and", "with", "a", "the", "of", "to"]),
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=9),
)
_SENTENCE = st.builds(
    lambda toks, seps: "".join(t + s for t, s in zip(toks, seps)),
    st.lists(_TOKEN, min_size=1, max_size=18),
    st.lists(st.sampled_from([" ", " ", " ", ", ", ". ", "; ", "/", "", "  "]), min_size=18, max_size=18),
)


@settings(max_examples=400, deadline=None)
@given(sentences=st.lists(_SENTENCE, min_size=1, max_size=4), case=st.sampled_from(["lower", "capital"]))
def test_engine_exact_on_built_sentences(vocab, sentences, case):
    text = " ".join(s.capitalize() if case == "capital" else s for s in sentences)
    for canonicalize in (vocab.find_terms, None):
        _assert_exact([text], canonicalize)


@pytest.mark.parametrize("canonical", [True, False], ids=["canonicalize", "raw"])
def test_engine_exact_on_table_phrases(vocab, canonical):
    """Every site word of _SITE_CLASS after every word _SYMPTOM_WORD_MAP maps
    (and a few symptoms) and before every adjacency symptom: the phrases
    whose rewrites insert words ("aching of the calf" -> "leg pain")."""
    symptoms = [*scorer_mod._SYMPTOM_WORD_MAP, "swelling", "pain", "erythema", "tenderness", "drainage"]
    texts = [
        f"Pt reports {s} of the {w}. He c/o {w} {t}, and left {w} {t}."
        for w in _SITE_WORDS for s, t in zip(symptoms, ["edema", "ache", "ulcer", "pitting edema", "wound", "pain"] * 3)
    ]
    _assert_exact(texts, vocab.find_terms if canonical else None)


@pytest.mark.parametrize("text", [
    # a _REASON capture stops at its 80-character cap inside "worksheet"
    "She had chills due to " + "x" * 74 + " worksheet.",
    # the pleuritic special's match ends inside "breathworks"
    "He has pain in the chest on deep breathworks.",
])
def test_cut_inside_a_word(vocab, text):
    """A cut inside a word leaves a new word ("works"), which only the
    engine's widening lets _NONCLINICAL_ITEM see: it drops the item."""
    want = _assert_exact([text], None)
    assert not any("works" in m for m in want[0]), want


# ------------------------------------------------------------- triggers


@settings(max_examples=300, deadline=None)
@given(text=st.lists(st.one_of(st.sampled_from(_ELEMENTS + _PHRASES), st.text("abc xyz019.,/-_é°₂µ", max_size=6)),
                     max_size=12).map(" ".join))
def test_clauses_are_met_by_every_match(text):
    """Wherever a folded pattern matches lowercase text, the text's words
    meet each of the pattern's clauses."""
    text = text.lower()
    mask = scorer_mod._TRIGGERS.mask(text)
    for rx, need in scorer_mod._NEED.items():
        if rx.search(text):
            assert not need & ~mask, (rx.pattern[:60], text)


def test_clauses_of_known_shapes():
    t = Triggers()

    def need(pattern):
        return sorted(sorted(c) for c in clauses(re.compile(pattern)))

    assert need(r"\bden(?:ies|ied|y)\b") == [["denied", "denies", "deny"]]
    assert need(r"\breports?\s+") == [["report", "reports"]]
    assert need(r"\bhr\s*(\d{2,3})") == [["#"], ["hr*"]]
    assert need(r"\brecent\s+(ulcer|wound)\b") == [["recent"], ["ulcer", "wound"]]
    assert need(r"\bt(?:emp)?\s*\d") == [["#"]]  # the one-letter prefix clause is left out
    assert need(r"\(.*") == [] and need(r"[a-z]+ing") == []
    bit = t.need([frozenset({"fever", "chill*"})])
    assert t.mask("fever") == t.mask("chills now") == bit and t.mask("feverish chill") == bit
    assert t.mask("feverish") == t.mask("a chil") == 0
