"""X3 list-cleanup parity: behavior-equality vs the reference implementation
(/root/reference/llacie/text_wrangling.py) across the four list dialects,
plus the LLMScorer raw-output adapter."""

import importlib.util
import os

import pytest

from llacie_spark.operators.listclean import cleanup_mention_list, split_listlike_text
from llacie_spark.scorer import LLMScorer

CASES = [
    # numbered, ')' style with comma separators and trailing prose
    "1) fever, 2) chills, and 3) productive cough. The patient otherwise denies symptoms.",
    # numbered, '.' style, paragraph-terminated
    "1. fever 2. chills and 3. cough\n\nNo other complaints today.",
    # bulleted (dash)
    "- fever\n- chills\n- cough",
    # bulleted (unicode) with double newlines and a trailing paragraph
    "• fever\n\n• chills\n\n• cough\n\nAssessment: sepsis.",
    # LaTeX itemize
    "\\begin{itemize}\n\\item fever\n\\item chills\n\\item cough\n\\end{itemize}\nDone.",
    # inline comma list with 'and'
    "fever, chills, and productive cough. Denies chest pain.",
    # inline semicolon list
    "fever; chills; and cough. More prose.",
    # parentheticals + slash compounds + negations
    "1) fever (Tmax 102F), 2) nausea/vomiting, and 3) No rash. Other text follows.",
    # stray leading bullet on an inline list
    "- fever, chills, and cough. End.",
    # not a list: should abort
    "The patient is recovering well and reports no complaints.",
    # short non-list fragment
    "fever",
    # all-numeric junk items
    "1) 101, 2) 102, and 3) fever. End.",
]


@pytest.fixture(scope="module")
def reference_impl():
    spec = importlib.util.spec_from_file_location(
        "ref_text_wrangling", "/root/reference/llacie/text_wrangling.py"
    )
    if not os.path.exists(spec.origin):
        pytest.skip(f"reference implementation not present at {spec.origin}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("raw", CASES)
def test_parity_with_reference(reference_impl, raw):
    expected = reference_impl.cleanup_presenting_sx(raw)
    got = cleanup_mention_list(raw)
    if expected is None:
        assert got is None
    else:
        assert got == [v for v in expected.split("\n")]


def test_explicit_numbered_case():
    got = cleanup_mention_list(
        "1) fever (Tmax 102F), 2) nausea/vomiting, and 3) No rash. Other text follows."
    )
    assert got == ["fever", "nausea", "vomiting"]


def test_abort_on_prose():
    assert split_listlike_text("The patient is recovering well.") is None
    assert cleanup_mention_list("The patient is recovering well.") is None
    assert cleanup_mention_list(None) is None


def test_llmscorer_raw_output_adapter():
    canned = {
        "note A": "- fever\n- chills\n- cough",
        "note B": "no list here at all",
    }
    scorer = LLMScorer(scorer_fn=lambda texts: [canned[t] for t in texts], raw_output=True)
    out = scorer.score_batch(["note A", "note B"])
    assert out == [["fever", "chills", "cough"], []]


def test_llmscorer_structured_passthrough_unchanged():
    scorer = LLMScorer(scorer_fn=lambda texts: [["fever"]] * len(texts))
    assert scorer.score_batch(["x"]) == [["fever"]]
