"""The folded scorer path is exact: differential harness + fold contract.

``GazetteerScorer.score_one`` runs a foldable section lowered, against the
case-folded pattern table (``scorer._FOLDED``), and any other section against
the original patterns (``scorer._EXACT``). The benchmark's reference extractor
uses the same scorer, so these tests are the guard that the two paths agree:

- a seeded mutation generator over the 100 fixture HPI sections (denial and
  adversative spans inside cue windows, sentence shuffles, abbreviation and
  unicode variants, site/symptom order swaps, random case flips, inserted
  fold hazards and capitalised split words), scored on the path the scorer
  picks, on the exact path forced for every section, and on the exact path
  with the sentence gate off;
- a hypothesis property over random case flips;
- the Unicode facts the folding rests on, checked over every code point.
"""

import random
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from llacie_spark import scorer as scorer_mod
from llacie_spark.scorer import GazetteerScorer

N_GENERATED = 600


@pytest.fixture(scope="module")
def hpi_sections(corpus_notes):
    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi

    secs = [extract_short_hpi(clean_note_text(n)) for n in corpus_notes]
    assert len(secs) == 100 and all(secs)
    return secs


def _score(texts, canonicalize, path=None, gate=True):
    """Score ``texts``; ``path`` forces every section onto the "exact" or
    the "folded" table, ``gate=False`` turns the rule engine's switch on, so
    every sentence runs every pattern. Returns the mentions and the table
    each section ran."""
    s = GazetteerScorer(canonicalize=canonicalize)
    with pytest.MonkeyPatch.context() as m:
        if not gate:
            m.setattr(scorer_mod, "_EVERY_PATTERN_LIVE", True)
        if path == "exact":
            m.setattr(scorer_mod, "_FOLD_HAZARDS", re.compile(""))
        elif path == "folded":
            m.setattr(scorer_mod, "_FOLD_HAZARDS", re.compile("(?!)"))
            m.setattr(scorer_mod, "_SPLIT_WORDS", ())
        out, ran = [], []
        for t in texts:
            out.append(s.score_one(t))
            ran.append("exact" if s._p is scorer_mod._EXACT else "folded")
    return out, ran


# ----------------------------------------------------------- mutations

_CUE_VERB = re.compile(r"\b(present(?:s|ed|ing)?|reports?|notes?|c/o|p/w|complains of)\b", re.I)
_DENIAL_SPANS = [
    "denies fever but", "no chills, however", "negative for cough though",
    "without nausea but", "not new rash, although", "Denied dyspnea but",
]
_ABBREVIATED = [
    ("nausea and vomiting", "N/V"), ("nausea, vomiting, and diarrhea", "N/V/D"),
    ("shortness of breath", "SOB"), ("altered mental status", "AMS"),
    ("without", "w/o"), ("nausea", "n/v"), ("dyspnea", "sob"),
]
_SITE_FIRST = re.compile(r"\b(leg|arm|foot|chest|calf|ankle) (pain|swelling|edema|wound|ulcer)\b", re.I)
_SITE_LAST = re.compile(
    r"\b(pain|swelling|edema|erythema|wound|ulcer) (?:of|in|on) (?:the )?(?:left |right )?"
    r"(leg|arm|foot|calf|ankle|RLE|LLE)\b", re.I
)
# capitalised split words and characters whose lowering re.I disagrees
# with: substitutions anywhere, and sentences where each one changes the
# output if it is folded
_HAZARDS = [
    ("i", "\u0131"), ("I", "\u0130"), ("s", "\u017f"), ("k", "\u212a"), ("K", "\u212a"),
    (" and ", " And "), (" with ", " WITH "), (" plus ", " Plus "), ("a", "\u03a3"),
]
_HAZARD_SENTENCES = [
    "He report\u0130ng chills.",  # U+0130 lowers to "i" + a combining dot
    "He report\u0131ng chills.",  # U+0131 matches i under re.I
    "He report\u017f chills.",  # U+017F matches s under re.I
    "He reports \u212a.",  # the Kelvin sign lowers to k, an _ANY_LETTER match
    "He reports fever \u0391\u03a3:\u0392.",  # final or medial sigma depends on the context
    "He reports fever And chills.",  # _ITEM_SPLIT is case-sensitive
]


def _deny_in_cue_window(text, rng):
    spans = list(_CUE_VERB.finditer(text))
    if not spans:
        return f"{text} Pt presented again {rng.choice(_DENIAL_SPANS)} with leg swelling."
    m = rng.choice(spans)
    return f"{text[: m.end()]} {rng.choice(_DENIAL_SPANS)}{text[m.end():]}"


def _shuffle_sentences(text, rng):
    parts = scorer_mod._SENT_SPLIT.split(text)
    rng.shuffle(parts)
    return " ".join(parts)


def _abbreviate(text, rng):
    for long, short in _ABBREVIATED:
        if long in text and rng.random() < 0.6:
            text = text.replace(long, short, 1)
    return text if rng.random() < 0.5 else f"{text} Also {rng.choice(_ABBREVIATED)[1]} today."


def _unicode_variants(text, rng):
    for fancy, plain in scorer_mod._UNICODE_FIXES.items():
        text = "".join(fancy if c == plain and rng.random() < 0.3 else c for c in text)
    return text


def _swap_site_order(text, rng):
    if rng.random() < 0.5 and _SITE_FIRST.search(text):
        return _SITE_FIRST.sub(r"\2 of the left \1", text)
    if _SITE_LAST.search(text):
        return _SITE_LAST.sub(r"\2 \1", text)
    return f"{text} She reports {rng.choice(['swelling of the RLE', 'left calf pain', 'ulcer on the foot'])}."


def _flip_at(text, positions):
    """Swap the case of the ASCII characters at ``positions`` outside any
    and/with/plus (in any case), so the section stays foldable."""
    keep = {i for m in re.finditer("(?i)and|with|plus", text) for i in range(*m.span())}
    return "".join(
        c.swapcase() if c.isascii() and i in positions and i not in keep else c
        for i, c in enumerate(text)
    )


def _flip_case(text, rng, rate):
    return _flip_at(text, {i for i in range(len(text)) if rng.random() < rate})


def _insert_hazard(text, rng):
    for _ in range(rng.randint(1, 3)):
        old, new = rng.choice(_HAZARDS)
        at = [m.start() for m in re.finditer(re.escape(old), text)]
        if at:
            i = rng.choice(at)
            text = text[:i] + new + text[i + len(old):]
    parts = scorer_mod._SENT_SPLIT.split(text)
    parts.insert(rng.randint(0, len(parts)), rng.choice(_HAZARD_SENTENCES))
    return " ".join(parts)


_MUTATIONS = [_deny_in_cue_window, _shuffle_sentences, _abbreviate, _unicode_variants, _swap_site_order]


def generate(sections, n, seed):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        text = sections[i % len(sections)]
        for mutate in rng.sample(_MUTATIONS, rng.randint(1, 3)):
            text = mutate(text, rng)
        if rng.random() < 0.5:
            text = _flip_case(text, rng, rng.uniform(0.05, 1.0))
        if rng.random() < 0.4:
            text = _insert_hazard(text, rng)
        out.append(text)
    return out


@pytest.mark.parametrize("canonical", [True, False], ids=["canonicalize", "raw"])
def test_folded_table_equals_exact_table_on_generated_docs(hpi_sections, vocab, canonical):
    docs = generate(hpi_sections, N_GENERATED, seed=20260)
    canon = vocab.find_terms if canonical else None
    got, ran = _score(docs, canon)
    want, _ = _score(docs, canon, path="exact")
    assert ran.count("folded") >= 300 and ran.count("exact") >= 100, ran.count("folded")
    diffs = [i for i, (a, b) in enumerate(zip(got, want)) if a != b]
    assert not diffs, f"{len(diffs)} docs differ, first: {docs[diffs[0]]!r}"
    # and the rule engine skips nothing that could produce a mention
    assert _score(docs, canon, gate=False)[0] == got
    assert sum(map(len, want)) > 2 * N_GENERATED  # the docs do produce mentions


@settings(max_examples=150, deadline=None)
@given(idx=st.integers(0, 99), positions=st.sets(st.integers(0, 1500), max_size=400))
def test_random_case_flips_take_the_folded_path_exactly(hpi_sections, vocab, idx, positions):
    text = _flip_at(hpi_sections[idx], positions)
    for canon in (vocab.find_terms, None):
        got, ran = _score([text], canon)
        assert ran == ["folded"]
        assert got == _score([text], canon, path="exact")[0]


@pytest.mark.parametrize("text", _HAZARD_SENTENCES)
def test_each_fold_hazard_is_needed(text):
    """Forced onto the folded table, each hazard changes the output; the
    scorer sends it down the exact path instead."""
    exact, _ = _score([text], None, path="exact")
    assert _score([text], None, path="folded")[0] != exact
    assert _score([text], None) == (exact, ["exact"])


# ------------------------------------------------------- fold contract


def _atoms(pattern: str) -> set[str]:
    """Single-character atoms of a pattern's source: classes, escapes and
    (escaped) literal characters."""
    classes = re.findall(r"\[(?:\\.|[^\]\\])*\]", pattern)
    rest = re.sub(r"\[(?:\\.|[^\]\\])*\]", "", pattern)
    escapes = set(re.findall(r"\\[a-zA-Z]", rest))
    literals = {re.escape(c) for c in re.sub(r"\\.", "", rest) if c not in "()[]{}|?*+^$.\\"}
    return set(classes) | escapes | literals | {"."}


def _patterns(obj):
    if isinstance(obj, re.Pattern):
        yield obj
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _patterns(v)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            yield from _patterns(v)


def _table_pairs():
    """(exact, folded) for every pattern of the two tables."""
    exact = list(_patterns(list(vars(scorer_mod._EXACT).values())))
    folded = list(_patterns(list(vars(scorer_mod._FOLDED).values())))
    assert len(exact) == len(folded)
    return list(zip(exact, folded))


def test_lowering_agrees_with_ignorecase_outside_the_hazards():
    """For every code point but the hazards, ``str.lower`` keeps the length,
    is context-free, and each atom of each folded pattern matches the lowered
    character exactly when the re.I atom matches the original one; the
    case-sensitive patterns that run on lowered text (_ANY_LETTER, the
    non-word part of _ITEM_SPLIT) match the same characters either way."""
    chars = "".join(chr(i) for i in range(0x110000) if not 0xD800 <= i < 0xE000)
    hazards = set(scorer_mod._FOLD_HAZARDS.findall(chars))
    assert hazards == set("\u0130\u0131\u017f\u212a\u03a3")
    ok = "".join(c for c in chars if c not in hazards)
    low = "".join(map(str.lower, ok))
    assert len(low) == len(ok) and low == ok.lower()

    atoms = set().union(*(_atoms(f.pattern) for e, f in _table_pairs() if e.flags & re.I))
    assert {"[a-z]", r"\b", r"\s", r"\w", "[cf]"} <= atoms
    for atom in sorted(atoms):
        ignorecase = [m.start() for m in re.finditer(atom, ok, re.I)]
        assert ignorecase == [m.start() for m in re.finditer(atom, low)], atom
    for rx in (scorer_mod._ANY_LETTER, re.compile(r"[,;:/]|\b")):
        assert [m.span() for m in rx.finditer(ok)] == [m.span() for m in rx.finditer(low)]


def test_every_ignorecase_pattern_is_folded():
    """The folded table is derived, not written: each re.I pattern of the
    exact table has a twin without re.I whose source is its own lowercased
    outside escapes."""
    pairs = _table_pairs()
    assert sum(e.flags & re.I > 0 for e, _ in pairs) >= 50
    for e, f in pairs:
        if e.flags & re.I:
            assert not f.flags & re.I
            assert re.sub(r"\\.", "", f.pattern) == re.sub(r"\\.", "", e.pattern).lower()
            assert re.findall(r"\\.", f.pattern) == re.findall(r"\\.", e.pattern)
        else:
            assert f is e
