"""Section extraction: carve the short-HPI span out of each clinical note.

The two pattern constants below are a byte-compatible transcription of the
reference's section-boundary specification
(``/root/reference/llacie/strategies/section/hpi_short/regex.py:21-74``): the
regexes *are* the definition of where an HPI section starts and ends, so they
are kept identical (including ``re.VERBOSE`` quirks such as unescaped spaces
being ignored) to guarantee span-level parity with the reference's
``note_sections`` output. Everything around them — cleaning, vectorized
execution — is new Spark-first code.

These are plain Python functions: Python ``re`` semantics don't map 1:1 to
Java regex, so they run inside Arrow-batched UDFs (``pipeline.run_pipeline``'s
section UDF and ``pipeline.fused_extract``'s one UDF) rather than as Spark
column expressions.
"""

from __future__ import annotations

import re

# Start-of-HPI markers (reference regex.py:21-33).
HPI_START_REGEX = re.compile(
    r"""
    \b(
        HPI
        | (History|Central[ ]Elements)[ ]of[ ](the[ ])?(Present(ing)?[ ]Illness|Traumatic[ ]Injury)
        | Brief[ ]summary
    )\b( # Optional prefixes within the HPI text that should be excised
        :
        | \s+Comments:\s*
        | \s+HPI\b
        | \s+History[ ]of[ ](the[ ])?Present[ ]Illness
        | \s+Chief[ ]Complaint:[^\n]*
    )*
    """,
    re.VERBOSE | re.IGNORECASE,
)

# End-of-HPI markers (reference regex.py:37-74).
HPI_END_REGEX = re.compile(
    r"""
    (
        \n (
            History[ ]reviewed.[ ]+No[ ]pertinent[ ]past[ ]medical[ ]history.
        )
        | \n (
            Electronic[ ]Medical[ ]Records[ ]Reviewed
            | History[ ]provided[ ]by
            | (E[DWR]|Emergency[ ](Department|Room))[ ]Course
            | Current[ ]Assessment
            | Historical[ ]features
            | Focused[ ]COVID[ ]History
            | (ED[ ]Triage[ ])? (Vitals|Vital[ ]Signs)
            | (Plan|A[/&]P)
            | (Estimated[ ]Date[ ]of[ ]Delivery|EDD)
            | (Relevant|Pertinent[ ])? (Home[ ])? Medications
            | (Relevant|Pertinent[ ])? (Physical[ ])? Exam
            | Quality[ ]Bundle
        ) [:\n]
        | \n (
            Review[ ]of[ ]Systems
            | ROS
            | Past[ ](Medical[ ])?(History|Hx)
            | Patient[ ]Active[ ]Problem[ ]List
            | Medical (([/\s]+|[ ]+(\band\b|&)[ ]+)Surgical)? [ ](History|Hx)
            | PMH
            | (In[ ]|On[ ]arrival[ ](to|at)[ ]) (the[ ])? (\w+[ ])?
                (E[DWR]|Emergency[ ](Room|Department))
            | Data reviewed
            | ((Impression|Assessment)[ ]and[ ]) Plan
        ) \b
    )
    """,
    re.VERBOSE | re.IGNORECASE,
)

# What every HPI_START_REGEX match begins with after its zero-width ``\b``:
# the first letter and the rest of HPI / History / Central / Brief, under
# the same case folding. No hit can begin inside another (none of the
# letters after the first is h, c or b, nor folds to one), so scanning the
# hits in order and trying the full regex at each finds the leftmost match,
# the one ``search`` finds, without running the full pattern at every
# position of a note that has no HPI.
_START_CANDIDATE = re.compile(r"[hcb](?:pi|istory|entral|rief)", re.VERBOSE | re.IGNORECASE)

_SECTION_STRIP_CHARS = ":?-_ \xa0\n"


def clean_note_text(text: str) -> str:
    """Undo the EDW hard-wrap artifact: double spaces were newlines.

    Same normalization as the reference (regex.py:77-82): restore newlines,
    drop leading space/question-mark runs, collapse blank-line runs.
    """
    text = re.sub("  ", "\n", text)
    text = re.sub("\n[ ?]+", "\n", text)
    text = re.sub("\n\n+", "\n\n", text)
    return text.strip()


def find_hpi_start(note_text: str) -> re.Match | None:
    """``HPI_START_REGEX.search(note_text)``, tried only where a start
    marker can begin. ``match(text, pos)`` sees the character before
    ``pos``, so ``\\b`` reads as it does inside ``search``."""
    for hit in _START_CANDIDATE.finditer(note_text):
        start = HPI_START_REGEX.match(note_text, hit.start())
        if start is not None:
            return start
    return None


def extract_short_hpi(note_text: str) -> str | None:
    """Return the short-HPI span of a cleaned note, or None if no start marker.

    Semantics-equal to reference regex.py:85-97: first start marker, first end
    marker *after* it, strip ``:?-_ \\xa0\\n`` from both ends.
    """
    start = find_hpi_start(note_text)
    if start is None:
        return None
    begin = start.end(0)
    end = HPI_END_REGEX.search(note_text[begin:])
    stop = end.start(0) + begin if end is not None else None
    return note_text[begin:stop].strip(_SECTION_STRIP_CHARS)

