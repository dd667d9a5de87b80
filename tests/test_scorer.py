"""GazetteerScorer rule units + the gold-fixture quality gate (pure Python).

The P/R >= 0.95 gate scores exactly like the reference evaluator
(llacie/evaluate.py:82-105): episode×term boolean matrices over the full
canonical vocabulary, truth = the gold fixture's 20 episodes / 145 labels.
"""

import re

import pytest

from llacie_spark import scorer as scorer_mod
from llacie_spark.scorer import GazetteerScorer, LLMScorer


def make_scorer(vocab):
    return GazetteerScorer(canonicalize=vocab.find_terms)


def test_denial_scope_removed(vocab):
    s = make_scorer(vocab)
    assert s.score_one("He denies fever, chills, or cough.") == []


def test_adversative_reopens_affirmative(vocab):
    s = make_scorer(vocab)
    out = s.score_one("He reports fever and chills, but denies cough or dyspnea.")
    assert "fever" in out and "chills" in out
    assert not any("cough" in m or "dyspnea" in m for m in out)


def test_abbreviation_expansion(vocab):
    s = make_scorer(vocab)
    out = s.score_one("Today he woke with N/V and a headache.")
    assert "nausea" in out and "vomiting" in out


def test_site_normalization(vocab):
    s = make_scorer(vocab)
    out = s.score_one("Patient reports swelling of the RLE.")
    assert "leg swelling" in out


def test_vitals_inference_patient_reported(vocab):
    s = make_scorer(vocab)
    assert "tachycardia" in s.score_one("At home his HR 112 and he felt weak.")
    # clinician-measured readings do not imply a reported symptom
    assert "tachycardia" not in s.score_one("EMS noted HR 112 on arrival.")


def test_history_of_segment_excluded(vocab):
    s = make_scorer(vocab)
    out = s.score_one("58yo M with h/o diabetes and hypertension presents w/ fever.")
    assert out == ["fever"]


def test_mention_budget_counts_concepts(vocab):
    s = make_scorer(vocab)
    text = "He reports " + ", ".join(
        ["fever", "chills", "cough", "dyspnea", "nausea", "vomiting", "diarrhea",
         "headache", "fatigue", "myalgias", "dizziness", "weakness"]
    ) + "."
    out = s.score_one(text)
    assert len(out) == 10  # maxItems budget (reference llama3_8b.py:32-45)


def test_empty_inputs():
    s = GazetteerScorer()
    assert s.score_batch(["", None]) == [[], []]


def test_llm_scorer_requires_backend():
    import pytest

    with pytest.raises(NotImplementedError):
        LLMScorer().score_batch(["x"])
    assert LLMScorer(lambda ts: [["fever"]] * len(ts)).score_batch(["a", "b"]) == [
        ["fever"],
        ["fever"],
    ]


def test_gold_fixture_precision_recall_gate(vocab, gold_rows):
    """The headline quality gate: P >= 0.95 and R >= 0.95 vs the reference's
    gold clinical annotations, episode×term matrix semantics."""
    s = make_scorer(vocab)
    tp = fp = fn = 0
    for g in gold_rows:
        truth = set(g["labels"])
        pred = set(vocab.find_terms("\n".join(s.score_one(g["section_value"]))))
        tp += len(truth & pred)
        fp += len(pred - truth)
        fn += len(truth - pred)
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    assert precision >= 0.95, f"precision {precision:.4f} < 0.95 (tp={tp} fp={fp})"
    assert recall >= 0.95, f"recall {recall:.4f} < 0.95 (tp={tp} fn={fn})"


def test_trim_to_token_budget():
    from llacie_spark.scorer import trim_to_token_budget

    text = "One two three. Four five six. Seven eight nine. Ten eleven twelve."
    assert trim_to_token_budget(text, 100) == text  # fits: untouched
    assert trim_to_token_budget(text, 9) == "One two three. Four five six. Seven eight nine"
    assert trim_to_token_budget(text, 7) == "One two three"  # two cut rounds
    # pathological: one giant sentence falls back to a hard word cut
    assert trim_to_token_budget("w " * 50, 5).count("w") == 5


def test_caching_scorer_identical_and_dedups_inner_calls(vocab):
    """CachingScorer must be output-identical to its inner scorer and call
    it exactly once per distinct text (within and across batches) — the
    reference's content-keyed response cache contract."""
    from llacie_spark.scorer import CachingScorer

    class Counting:
        name = "counting"
        version = "1"

        def __init__(self, vocab):
            self.inner = GazetteerScorer(canonicalize=vocab.find_terms)
            self.calls = 0

        def score_batch(self, texts):
            self.calls += len(texts)
            return self.inner.score_batch(texts)

    counting = Counting(vocab)
    cached = CachingScorer(counting)
    plain = GazetteerScorer(canonicalize=vocab.find_terms)
    texts = [
        "Presents with fever and chills.",
        None,
        "Presents with fever and chills.",
        "Denies cough but reports dyspnea.",
        "",
    ]
    assert cached.score_batch(texts) == plain.score_batch(texts)
    assert counting.calls == 2  # two distinct non-empty texts
    # second batch with the same texts: zero new inner calls
    assert cached.score_batch(texts) == plain.score_batch(texts)
    assert counting.calls == 2
    assert cached.hits == 3 and cached.misses == 2


def test_caching_scorer_lru_bound(vocab):
    from llacie_spark.scorer import CachingScorer

    cached = CachingScorer(GazetteerScorer(canonicalize=vocab.find_terms),
                           max_entries=3)
    for i in range(10):
        cached.score_batch([f"reports fever number {i}."])
    assert len(cached._cache) == 3


def test_cached_gazetteer_registered(vocab):
    from llacie_spark.scorer import find_scorers, get_scorer

    assert "feature.presenting_sx.gazetteer.cached" in find_scorers("*gazetteer*")
    s = get_scorer("feature.presenting_sx.gazetteer.cached", vocab=vocab)
    assert s.score_batch(["complains of nausea."]) == [["nausea"]]


def _gate_off(monkeypatch, s, texts):
    """Score ``texts`` with the sentence gate disabled (every sentence runs
    the full rule set)."""
    with monkeypatch.context() as m:
        m.setattr(scorer_mod, "_SENTENCE_GATE", re.compile(""))
        return s.score_batch(texts)


def test_gate_keeps_cue_window_shortened_by_denial(vocab):
    s = make_scorer(vocab)
    out = s.score_one(
        "Pt presents for the third time this month denies fever but with worsening leg swelling"
    )
    assert out == ["leg swelling"]


@pytest.mark.parametrize(
    "text",
    [
        # a stripped denial splices a vital sign's keyword onto its value
        "Tmax no thermometer at home but 102.5 per wife.",
        "HR denies palpitations but 128 at home.",
        # a removed speculation shortens the sat / presents-with windows
        "Home O2 sat possible error, 85% on room air.",
        "He presented possible cellulitis of the left foot which is red and hot. with fever",
    ],
)
def test_gate_equals_gate_off_on_rewrite_holes(vocab, monkeypatch, text):
    s = make_scorer(vocab)
    want = _gate_off(monkeypatch, s, [text])
    assert want != [[]]
    assert s.score_batch([text]) == want


def test_gate_equals_gate_off_with_denial_inside_cue_window(vocab, monkeypatch, corpus_notes):
    """Every fixture HPI section, with a denial span inserted between each
    presents-with cue verb and the rest of the sentence (or appended as a
    sentence of its own where the section has none)."""
    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi

    verb = re.compile(r"\b(present(?:s|ed|ing)?)\b", re.I)
    span = r"\1 for the third time this month denies fever but"
    texts = []
    for note in corpus_notes:
        sec = extract_short_hpi(clean_note_text(note))
        if verb.search(sec):
            texts.append(verb.sub(span, sec))
        else:
            texts.append(f"{sec} Pt presented again denies chills but with leg swelling.")
    assert len(texts) == 100
    s = make_scorer(vocab)
    want = _gate_off(monkeypatch, s, texts)
    assert s.score_batch(texts) == want
