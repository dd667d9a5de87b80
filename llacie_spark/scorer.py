"""Batched mention scorers: the pluggable "feature extraction" stage.

The reference extracts presenting-symptom mentions by prompting an LLM over
each note's short-HPI section with a JSON-constrained decode
(``/root/reference/llacie/strategies/abstract_vllm_or_lcp.py:171-215``, prompt
contract at ``llacie/strategies/feature/presenting_sx/llama3_8b.py:63-77``:
symptoms present now or in the days-to-weeks before admission; exclude
denials; exclude past history; up to ten 1-3 word strings).

Here the scorer is an injectable interface so the pipeline stays testable and
CI never needs a model (the reference does the same with its canned "SKIPTO"
fixture). Two implementations:

- :class:`GazetteerScorer` — a deterministic rule-based clinical mention
  extractor implementing the same prompt contract: denial-scope removal,
  history/care-context handling, clinical abbreviation expansion, body-site
  normalization ("swelling of the RLE" -> "leg swelling"), and vitals
  inference (patient-reported "HR 112" -> tachycardia). Used by tests and
  benchmarks; validated at P/R >= 0.95 against the reference's 20-episode
  gold fixture (``examples/admission-100-labels.xlsx``).
- :class:`LLMScorer` — the production signature: one batched model call per
  Arrow batch inside ``mapInPandas`` (mirrors the reference's "pipeline all
  prompts thru at once" vLLM path, ``llacie/strategies/abstract_vllm.py:
  121-155``). Raises until a backend is injected; the Spark-side plumbing is
  real and tested via injection.

Both consume/produce plain Python batches so the Spark integration is a thin
``mapInPandas`` wrapper (see ``pipeline.py``) — scorers never see Spark types.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Sequence

MAX_MENTIONS = 10  # reference JSON schema: maxItems 10 (llama3_8b.py:32-45)

# --------------------------------------------------------------------------
# normalization tables
# --------------------------------------------------------------------------

_UNICODE_FIXES = {
    " ": " ",  # narrow no-break space (unit separator in the corpus)
    "\xa0": " ",
    "‑": "-",  # non-breaking hyphen
    "–": "-",
    "—": "-",
    "‘": "'",
    "’": "'",
    "“": '"',
    "”": '"',
}

# Clinical shorthand the reference's LLM expands implicitly when listing
# symptoms ("N/V" -> nausea + vomiting).
_ABBREVIATIONS = [
    (re.compile(r"\bN/V/D\b", re.I), "nausea, vomiting, diarrhea"),
    (re.compile(r"\bN/V\b", re.I), "nausea, vomiting"),
    (re.compile(r"\bSOB\b"), "shortness of breath"),
    (re.compile(r"\bAMS\b"), "altered mental status"),
    (re.compile(r"\bw/o\b", re.I), "without"),
]

# Sentences about care received / clinician measurements, not
# patient-reported complaints. Named findings cited with a "noted" cue and
# reason clauses ("due to nausea") are still extracted from them.
_CARE_CONTEXT = re.compile(
    r"\b(urgent care|outside (ED|hospital)|clinic|was seen|seen (at|in)"
    r"|received|was given|given (a|one|IV|PO)\b|started (on|IV|PO)\b|treated with"
    r"|discharged|transferred|prescribed|administered|placed on|course of"
    r"|CXR|CT\b|X-?ray|ultrasound|\bUS\b|\bUA\b|labs?\b|WBC|CRP|BNP|ANC\b|ABG"
    r"|cultures?\b|blood work|imaging|observation|follow.?up|presents? (now )?for"
    r"|re-?evaluation|eval(uation)? (for|of)|vitals|admitted|work-?up|brought him|went to)",
    re.I,
)

# Social history / exposures / administrivia: items mentioning these are
# never presenting symptoms.
_NONCLINICAL_ITEM = re.compile(
    r"\b(travel|sick contacts?|allerg\w*|housing|homeless|shelter|smok\w*|tobacco"
    r"|alcohol|beers?|drinks?|drinking|binge|methamphetamine|heroin|methadone"
    r"|cocaine|recreational|warehouse|works|lives|marital|condoms?|sexual"
    r"|complian\w*|insurance|pets?|diet|appointments?|exposure|exposed|neighbor"
    r"|roommate|noted by|murmur|copd|asthma|ckd|esrd|chf|baseline|chronic"
    r"|insulin|inhaler\w*|regimen|forgetting|thought to be|concern\w*|tender(?:ness)?|serous|confusion)\b",
    re.I,
)

# A denial cue negates everything to the end of the sentence, except clauses
# re-opened by an adversative conjunction. The alternatives are factored by
# prefix (same order, so the same match) because the sentence gate scans
# for this cue at every position of every sentence.
_DENIAL_CUE = re.compile(
    r"\b(?:den(?:ies|ied|ying|y)|neg(?:ative)? for"
    r"|no(?:r| evidence of|t (?:other|new|further))?|without)\b",
    re.I,
)
_ADVERSATIVE = re.compile(r",?\s+\b(but|however|although|though)\b", re.I)

# Diagnosis speculation — "possible pyelonephritis", "concern for gangrene".
_SPECULATION = re.compile(
    r"\b(possible|presumed|suspected|concern(ing)? for|r/o|rule out|likely"
    r"|probable|consistent with|suggestive of|work-?up (of|for)|given (concern|risk))\b[^,.;]*",
    re.I,
)

_PRESENTS_WITH = r"present(?:s|ed|ing)?(?:\s+[\w/.-]+){0,7}?\s+w(?:ith|/)"

# Affirmative mention cues: what follows is a patient-reported symptom list.
_CUE = re.compile(
    rf"\b(?:p/w|{_PRESENTS_WITH}|c/o|complain(?:s|ing|ed)? of"
    r"|reports?|reporting|notes?|noted|noting|noticed"
    r"|endorses?|developed|develops?|woke (?:up )?with|new onset of|now with"
    r"|now has|has been having|experiencing|began feeling|feels?|felt"
    r"|describes?|admits? to feeling|associated(?: with)?|accompanied by"
    r"|followed by|along with|complicated by)\s+",
    re.I,
)
# Strong chief-complaint cues override care context ("presents from urgent
# care with worsening dyspnea" is still the presenting complaint).
_STRONG_CUE = re.compile(rf"\b(?:p/w|{_PRESENTS_WITH}|c/o|complain(?:s|ing|ed)? of)\s+", re.I)
# Cues also honored inside care-context sentences (observed findings).
_NOTED_CUE = re.compile(r"\b(?:noted|notes?|noticed)\s+", re.I)

# "because of X" — symptoms cited as reasons stay affirmative anywhere.
_REASON = re.compile(r"\b(?:due to|because of|owing to|2/2)\s+([^,.;]{3,80})", re.I)

# "...but symptoms worsened, now with X" tails inside care sentences.
_WORSENED_TAIL = re.compile(
    r"\b(?:but|however|then)[^.;]*?\b(?:worsen(?:ed|ing)|persist(?:ed|s|ing)|progress(?:ed|ing))\b"
    r"[^.;]*?(?:\bnow with\b|\bwith\b|\bnow has\b)\s+([^.;]+)",
    re.I,
)

# Leading qualifiers stripped from captured items (the LLM's 1-3 word
# strings carry no severity/timing qualifiers).
_QUALIFIER = re.compile(
    r"^(?:a|an|the|any|his|her|their|new|mild|moderate|severe|low-?grade"
    r"|worsening|worsened|progressive(?:ly)?|increasing|increased|acute"
    r"|persistent|intermittent|constant|gradual|sudden(?:ly)?|subjective|recurrent"
    r"|significant|notable|some|slight|ongoing|continued|generalized|diffuse"
    r"|localized|brief|abrupt(?:ly)?|non-?[a-z]+|\d+[-\s]?\w+|\d+(?:\.\d+)?"
    r"|episodes? of|bouts? of|complaints? of|symptoms? of|onset of|history of"
    r"|hx of|h/o|of|that|which|now|then|also|still|daily|nightly|frequent|surrounding|expanding|streaking|associated)\s+",
    re.I,
)
_TRAILING = re.compile(
    r"\s+(?:x\s*\d+.*|for (?:the )?(?:past|last).*|over (?:the )?(?:past|last).*"
    r"|since .*|starting .*|beginning .*|yesterday.*|today.*|this morning.*"
    r"|at (?:home|rest|night).*|on exertion.*|\d+/10.*|q\d.*|up to .*|to \d+.*"
    r"|~.*|rated .*|despite .*|after .*|while .*|when .*|during .*|especially .*"
    r"|radiating .*|extending .*|localized .*|now .*|that .*|which .*|but .*"
    r"|per .*|from .*|began .*|started .*|increased .*|\d+\s*(?:wk|wks|week|weeks|day|days|mo|months?|yrs?|years?|h|hrs?|hours?)\s+ago.*|\(.*)$",
    re.I,
)

# Body-site vocabulary; key = the site word the concept dictionary knows.
_SITE_CLASS = {
    "leg": (
        "leg|legs|lower leg|lower extremity|lower extremities|calf|calves"
        "|shin|shins|thigh|thighs|ankle|ankles|rle|lle|le|ble"
    ),
    "arm": "arm|arms|forearm|forearms|upper extremity|rue|lue|ue|antecubital fossa|antecubital|hand|hands|wrist",
    "foot": "foot|feet|plantar|hallux|toe|toes|heel|metatarsal",
    "flank": "flank|flanks",
    "abdominal": "abdomen|abdominal|belly|suprapubic|epigastric|periumbilical",
    "chest": "chest",
}
_SITE_MODIFIER = re.compile(
    r"\b(?:left|right|l|r|bilateral|both|mid|distal|proximal|posterior|anterior|medial|lateral)\b[-.]?\s*",
    re.I,
)
_ANY_SITE = re.compile(
    r"\b(" + "|".join(p for p in _SITE_CLASS.values()) + r")\b", re.I
)

_SYMPTOM_OF_SITE = re.compile(
    r"\b([a-z]+(?:ing|ness|ia|ma|us|pain|ache|edema|erythema|swelling|drainage|ulcer|wound))"
    r"\s+(?:of|in|on|over|at|around)\s+(?:the\s+)?((?:[a-z0-9-]+\s+){0,3}[a-z0-9-]+)",
    re.I,
)

# word-level rewrites applied to final items (surface variants the LLM
# normalizes when restating a symptom in 1-3 words)
_SYMPTOM_WORD_MAP = {
    "edema": "swelling",
    "swollen": "swelling",
    "ache": "pain",
    "aching": "pain",
    "achiness": "pain",
    "ulcer": "wound",
    "ulcers": "wound",
    "ulcerated": "wound",
    "ulceration": "wound",
    "indurated": "induration",
    "incision": "wound",
    "ssi": "wound",
}
_SITE_SYMPTOMS = {"pain", "swelling", "wound"}

_VITALS_HR = re.compile(r"\bHR\s*(?:of\s*)?(\d{2,3})\b", re.I)
_VITALS_SAT = re.compile(
    r"\b(?:O2 sat|SpO2|sats?|oxygen saturation)\s*(?:of\s*)?[^0-9]{0,4}(\d{2,3})\s*%", re.I
)
_O2_NEED = re.compile(
    r"\bneed(?:ed|s)?\s+\d+(?:\.\d+)?\s*L(?:/min| NC| O2)?\b.{0,40}\b(?:sats?|SpO2|O2)", re.I
)
_VITALS_TEMP = re.compile(
    r"\b(?:T(?:emp(?:erature)?)?|Tmax|T max|fevers? (?:up )?to|febrile)\s*:?\s*"
    r"(?:max\s*)?(\d{2,3}(?:\.\d+)?)\s*°?\s*([CF])?",
    re.I,
)
_VITALS_RR = re.compile(r"\bRR\s*(?:of\s*)?(\d{2,3})\b", re.I)
_NIV = re.compile(r"\b(non-?rebreather|BiPAP|CPAP|NIPPV|NPPV)\b", re.I)
# Clinician-measured pulse/sat readings (EMS/ED observation) do not imply a
# reported symptom; temperature/respiratory-failure inference applies anywhere.
_MEASURED_VITALS = re.compile(r"\b(EMS|ED|triage|arrival|found|vitals)\b", re.I)

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+(?=[A-Z\"'(])")
_PARENTHETICAL = re.compile(r"\([^)]*\)")

_URINARY_CONTEXT = re.compile(r"\b(urin|void|dysuria|bladder|urethral|uti)\w*", re.I)

# precompiled _collect helpers (string-pattern re.* calls paid a cache
# lookup per call — ~190k lookups per 2000 docs in the profile)
_EXPOSURE_CUT = re.compile(r"\b(?:exposure|exposed|neighbor|roommate)\b.*$", re.I)
_BECAME_PAINFUL = re.compile(r"\bbecame painful\b", re.I)
_URGENCY = re.compile(r"\burgency\b", re.I)
_BLACKENING = re.compile(r"\bblackening\b", re.I)
_AFTER_N_OF = re.compile(r"\bafter\s+\d+\s+\w+\s+of\b", re.I)
_ITEM_SPLIT = re.compile(r",|;|:|\b(?:and|with|plus)\b|/")
_OCCASIONAL = re.compile(r"\boccasional(?:ly)?\b", re.I)
_ANY_LETTER = re.compile(r"[a-zA-Z]")
_LEADING_DENIAL = re.compile(r"^(?:no|not|denies|denied)\b", re.I)

# "recent <wound-like condition> p/w ..." in the history segment: the
# condition itself is a current finding when it is a wound (the "recent
# plantar ulcer" case), unlike disease diagnoses (urosepsis, cellulitis).
_RECENT_WOUND = re.compile(
    r"\brecent\s+((?:[a-z-]+\s+){0,2}(?:ulcer|wound|laceration|abscess))\b", re.I
)

# Union gate over every pattern through which a sentence can produce a
# mention (r07): _add is reachable only via _RECENT_WOUND, _infer_global
# (TEMP/RR/NIV), the care path's REASON/WORSENED_TAIL/NOTED (NOTED's verbs
# are a subset of _CUE), or the affirm path's HR/SAT/O2NEED/REASON/CUE. A
# sentence with no gate match can therefore add nothing and mutate no
# state, so skipping it is exact as long as the gate matches the RAW
# sentence whenever a component matches the text it sees. Two rewrites
# sit between them:
# - _SPECULATION.sub and _strip_denials (pieces joined by a space) delete
#   spans, which can shrink a bounded window until it fits: "presents for
#   the third time this month denies fever but with leg swelling" matches
#   _PRESENTS_WITH only once the denial is stripped. So the gate uses
#   unbounded variants of the windowed patterns (presents-with,
#   O2-need, the sat reading), which match wherever the originals match
#   any shortened text.
# - _strip_denials also splices the text before a denial cue onto the
#   text after an adversative, which can join the two halves of even a
#   whitespace-gapped pattern ("Tmax no thermometer but 102"). A sentence
#   with a denial cue before an adversative therefore always passes.
# A deletion cannot create a trigger token otherwise: the deleted spans
# start at a word boundary, and _SPECULATION's ends at [,.;] or the end.
# Measured: 55% of corpus sentences skip, each saving ~10 pattern scans.
_SENTENCE_GATE = re.compile(
    "|".join(
        f"(?:{p})"
        for p in (
            _RECENT_WOUND.pattern,
            _VITALS_TEMP.pattern,
            _VITALS_RR.pattern,
            _NIV.pattern,
            _VITALS_HR.pattern,
            _VITALS_SAT.pattern.replace("[^0-9]{0,4}", "[^0-9]*"),
            _O2_NEED.pattern.replace(".{0,40}", ".*"),
            _REASON.pattern,
            _CUE.pattern.replace(_PRESENTS_WITH, r"present(?:s|ed|ing)?.*?\s+w(?:ith|/)"),
            _WORSENED_TAIL.pattern,
            rf"{_DENIAL_CUE.pattern}.*?{_ADVERSATIVE.pattern}",
        )
    ),
    re.I,
)




# one boolean scan gates the abbreviation subs (same pattern alternatives as
# _ABBREVIATIONS minus the expansion-only differences): most notes contain no
# shorthand, and 5 full sub() scans per doc showed in the r07 profile
_ABBREV_ANY = re.compile(r"\bN/V(/D)?\b|\bSOB\b|\bAMS\b|\bw/o\b", re.I)


# every fix maps one char to one char, so a single translate() pass is
# exactly the nine sequential replace() scans (disjoint keys; r07)
_UNICODE_TRANSLATE = str.maketrans(_UNICODE_FIXES)


def normalize_text(text: str) -> str:
    text = text.translate(_UNICODE_TRANSLATE)
    if _ABBREV_ANY.search(text):
        for pat, repl in _ABBREVIATIONS:
            text = pat.sub(repl, text)
    return text


def _strip_denials(sentence: str) -> str:
    """Remove negated scope: from a denial cue to sentence end, except
    affirmative clauses re-opened by an adversative conjunction."""
    out = []
    rest = sentence
    while True:
        m = _DENIAL_CUE.search(rest)
        if m is None:
            out.append(rest)
            break
        out.append(rest[: m.start()])
        after = rest[m.end() :]
        adv = _ADVERSATIVE.search(after)
        if adv is None:
            break
        rest = after[adv.end() :]
    return " ".join(p for p in out if p.strip())


_SITE_CLASS_RX = {
    cls: re.compile(rf"(?:{pat})\Z", re.I) for cls, pat in _SITE_CLASS.items()
}


def _site_class(raw_site: str) -> str | None:
    site = _SITE_MODIFIER.sub("", raw_site.lower()).strip()
    words = site.split()
    # try longest suffix first so "medial shin while gardening" resolves
    for k in range(len(words), 0, -1):
        for prefix in (words[:k], words[-k:]):
            cand = " ".join(prefix)
            for cls, rx in _SITE_CLASS_RX.items():
                if rx.match(cand):
                    return cls
    return None


def _sentence_site(sentence: str) -> str | None:
    """Body-site context of a sentence (the last site mentioned — nearest
    antecedent for trailing symptom qualities)."""
    last = None
    for m in _ANY_SITE.finditer(sentence):
        last = m
    return _site_class(last.group(1)) if last else None


def _reorder_sites(text: str) -> str:
    """Rewrite "swelling of the RLE" -> "leg swelling" so the n-gram matcher
    sees the dictionary's site-first surface forms."""

    def repl(m):
        sym = _SYMPTOM_WORD_MAP.get(m.group(1).lower(), m.group(1).lower())
        cls = _site_class(m.group(2))
        if cls is None:
            return m.group(0)
        return f"{cls} {sym}"

    return _SYMPTOM_OF_SITE.sub(repl, text)


_PITTING = re.compile(r"\bpitting edema\b", re.I)
# precompiled (site-class, symptom-class) adjacency rewrites — built once;
# rebuilding these f-string patterns per call dominated the scorer profile.
# Grouped by symptom class with one guard regex each (r07): a rule whose
# symptom words are absent from the segment cannot match, so skipping its
# whole group is an exact no-op — the old flat loop ran all 18 subs whenever
# ANY symptom word was present (~19 regex scans per _collect in the profile).
_ADJACENT_GROUPS = [
    (
        re.compile(rf"\b(?:{syms})\b", re.I),
        [
            (re.compile(rf"\b(?:{pat})\b\s+(?:{syms})\b", re.I), f"{cls} {repl}")
            for cls, pat in _SITE_CLASS.items()
        ],
    )
    for syms, repl in (("edema|swelling", "swelling"), ("pain|ache", "pain"), ("ulcer|wound", "wound"))
]


# every adjacency rewrite requires one of these symptom words; segments
# without any (the common case) skip the whole rule loop
_ADJACENT_GUARD = re.compile(r"\b(?:edema|swelling|pain|ache|ulcer|wound)\b", re.I)


def _normalize_adjacent_sites(text: str) -> str:
    """Map adjacent site+symptom pairs: "LE pitting edema" -> "leg swelling",
    "plantar ulcer" -> "foot wound"."""
    if not _ADJACENT_GUARD.search(text):
        return text
    t = _PITTING.sub("edema", text)
    for guard, rules in _ADJACENT_GROUPS:
        if guard.search(t):
            for pat, repl in rules:
                t = pat.sub(repl, t)
    return t


class GazetteerScorer:
    """Deterministic clinical presenting-symptom mention extractor.

    ``score_batch`` maps a batch of section texts to a batch of mention lists
    (short phrases, at most :data:`MAX_MENTIONS` per document, ordered by
    first appearance — the list index is the 1-based ``line_number`` the
    evaluation thresholds use, mirroring the reference's newline-joined
    feature value, ``llacie/strategies/abstract_vllm_or_lcp.py:211``).

    ``canonicalize`` optionally maps a candidate mention to the set of
    canonical concepts it names (the pipeline passes the concept dictionary's
    ``find_terms``). When provided, only linkable mentions are emitted and the
    10-slot budget counts *distinct concepts*, not surface strings — the
    gazetteer analog of the LLM knowing symptom names and never repeating one.
    """

    name = "feature.presenting_sx.gazetteer"
    version = "2.0.0"

    def __init__(self, canonicalize: Callable[[str], dict | set] | None = None):
        self.canonicalize = canonicalize

    def score_batch(self, texts: Sequence[str | None]) -> list[list[str]]:
        return [self.score_one(t) if t else [] for t in texts]

    # ------------------------------------------------------------------ core

    def score_one(self, text: str) -> list[str]:
        text = normalize_text(text)
        text = _PARENTHETICAL.sub(" ", text)  # parentheticals are asides
        mentions: list[str] = []
        self._covered: set[str] = set()
        self._site_key: str | None = None  # per-doc _sentence_site memo
        self._site_val: str | None = None

        for raw_sentence in _SENT_SPLIT.split(text):
            sentence = raw_sentence.strip()
            if not sentence:
                continue
            if not _SENTENCE_GATE.search(sentence):
                continue  # cannot produce a mention — see _SENTENCE_GATE
            for m in _RECENT_WOUND.finditer(sentence):
                self._collect(m.group(1), sentence, mentions)
            sentence = _strip_denials(sentence)
            if not sentence.strip():
                continue

            # inference rules that apply to any sentence
            self._infer_global(sentence, mentions)

            care = _CARE_CONTEXT.search(sentence) and not _STRONG_CUE.search(sentence)
            if care:
                # From care/clinician sentences extract only: cited reasons,
                # post-treatment progressions, and explicitly noted findings.
                for m in _REASON.finditer(sentence):
                    self._collect(m.group(1), sentence, mentions)
                m = _WORSENED_TAIL.search(sentence)
                if m:
                    self._collect(m.group(1), sentence, mentions)
                for m in _NOTED_CUE.finditer(sentence):
                    self._collect(self._cue_segment(sentence, m.end()), sentence, mentions)
                continue

            sentence_affirm = _SPECULATION.sub(" ", sentence)
            self._infer_reported(sentence_affirm, mentions)
            for m in _REASON.finditer(sentence_affirm):
                self._collect(m.group(1), sentence_affirm, mentions)
            for m in _CUE.finditer(sentence_affirm):
                # "prior MRSA SSTI p/w cellulitis" — a *prior* condition's
                # presentation is past history, unlike a *recent* one's
                if m.group(0).strip().lower() == "p/w" and re.search(
                    r"\bprior\s+(?:[\w/-]+\s+){0,3}$", sentence_affirm[: m.start()], re.I
                ):
                    continue
                self._collect(self._cue_segment(sentence_affirm, m.end()), sentence_affirm, mentions)

        return mentions if self.canonicalize is not None else mentions[:MAX_MENTIONS]

    @staticmethod
    def _cue_segment(sentence: str, start: int) -> str:
        seg = sentence[start:]
        nxt = _CUE.search(seg)
        return seg[: nxt.start()] if nxt else seg

    # ------------------------------------------------------------- inference

    def _infer_global(self, sentence: str, mentions: list[str]) -> None:
        """Severity inferences valid regardless of who observed them."""
        m = _VITALS_TEMP.search(sentence)
        if m:
            v = float(m.group(1))
            unit = m.group(2) or ("F" if v > 45 else "C")
            if (unit.upper() == "C" and v >= 38.0) or (unit.upper() == "F" and v >= 100.4):
                self._add(mentions, "fever")
        m = _VITALS_RR.search(sentence)
        if m and int(m.group(1)) >= 30:
            self._add(mentions, "tachypnea")
        if _NIV.search(sentence) and not re.search(
            r"\b(?:yrs?|years?|months?)\s+ago|\bprior\b|\bprevious\b", sentence, re.I
        ):
            self._add(mentions, "respiratory failure")

    def _infer_reported(self, sentence: str, mentions: list[str]) -> None:
        """Patient-reported pulse/oxygen values imply symptoms; clinician
        measurements (EMS/ED/triage sentences) do not."""
        if _MEASURED_VITALS.search(sentence):
            return
        m = _VITALS_HR.search(sentence)
        if m and int(m.group(1)) >= 100:
            self._add(mentions, "tachycardia")
        m = _VITALS_SAT.search(sentence)
        if m and int(m.group(1)) < 92:
            self._add(mentions, "hypoxemia")
        if _O2_NEED.search(sentence):
            self._add(mentions, "hypoxemia")

    # ------------------------------------------------------------- collect

    _SPECIALS = [
        (
            re.compile(
                r"\b(?:sharp\s+)?(?:chest\s+)?pain[^.;]{0,60}chest[^.;]{0,60}"
                r"(?:deep breaths?|inspiration|breathing)"
                r"|\bpain[^.;]{0,30}(?:worse(?:ns)?|worsens) with (?:deep breaths?|inspiration)",
                re.I,
            ),
            "pleuritic chest pain",
        ),
        (
            re.compile(r"\bscratchy\b[^.;]{0,25}\bthroat\b|\bthroat\b[^.;]{0,15}\bscratchy\b", re.I),
            "sore throat",
        ),
        (
            re.compile(r"\bsuprapubic (?:pressure|pain|cramping|discomfort|tenderness)\b", re.I),
            "abdominal pain",
        ),
        (
            re.compile(r"\babdominal cramping\b|\bcramping\b[^.;]{0,20}\babdomen\b", re.I),
            "abdominal pain",
        ),
        (re.compile(r"\bburning (?:on|with) (?:urination|voiding)\b", re.I), "dysuria"),
        (re.compile(r"\bfoul[- ]smelling drainage\b", re.I), "malodorous"),
        (
            re.compile(
                r"\b(?:doesn'?t feel|can'?t feel|cannot feel|no sensation|loss of sensation)\b",
                re.I,
            ),
            "numbness",
        ),
        (re.compile(r"\bdifficulty (?:walking|ambulating)\b", re.I), "difficulty walking"),
    ]
    # one boolean scan gates the per-pattern loop: the vast majority of
    # segments match no special, and N searches per segment dominated the
    # scorer profile (re.search was ~25% of per-doc time)
    _SPECIALS_ANY = re.compile(
        "|".join(f"(?:{p.pattern})" for p, _ in _SPECIALS), re.I
    )

    def _collect(self, segment: str, sentence: str, mentions: list[str]) -> None:
        segment = _SPECULATION.sub(" ", segment)
        # exposures are never presenting symptoms ("neighbor with bad cold")
        segment = _EXPOSURE_CUT.sub("", segment)
        # lazy, one-entry-memoized site: most segments never branch on the
        # sentence site (r07 profile: _sentence_site was ~7% while only the
        # rare BECAME_PAINFUL/BLACKENING/site-symptom branches consume it),
        # so the _ANY_SITE scan runs only when a consumer actually asks
        def site_of():
            if sentence != self._site_key:
                self._site_key = sentence
                self._site_val = _sentence_site(sentence)
            return self._site_val

        if _BECAME_PAINFUL.search(segment) and site_of() in ("leg", "arm"):
            segment = _BECAME_PAINFUL.sub(" ", segment)
            self._add(mentions, f"{site_of()} pain")
        if self._SPECIALS_ANY.search(segment):
            for pat, repl in self._SPECIALS:
                if pat.search(segment):
                    segment = pat.sub(" ", segment)
                    self._add(mentions, repl)
        if _URGENCY.search(segment) and _URINARY_CONTEXT.search(sentence):
            segment = _URGENCY.sub(" ", segment)
            self._add(mentions, "urinary urgency")
        if _BLACKENING.search(segment) and site_of() == "foot":
            self._add(mentions, "foot wound")

        segment = _reorder_sites(segment)
        segment = _normalize_adjacent_sites(segment)
        # "X after 2 days of Y" buries Y in X's trailing cut — make Y its own item
        segment = _AFTER_N_OF.sub(", ", segment)

        for item in _ITEM_SPLIT.split(segment):
            item = item.strip(" .-:\"'")
            if _OCCASIONAL.search(item):
                continue  # "occasional X" is not a presenting complaint
            prev = None
            while prev != item:
                prev = item
                item = _QUALIFIER.sub("", item).strip()
                item = _TRAILING.sub("", item).strip(" .-:\"'")
            if not item or not _ANY_LETTER.search(item):
                continue
            if _NONCLINICAL_ITEM.search(item):
                continue
            if _LEADING_DENIAL.match(item):
                continue
            words = [_SYMPTOM_WORD_MAP.get(w.lower(), w.lower()) for w in item.split()[:4]]
            item = " ".join(words)
            if item in ("warm", "red", "hot", "pressure"):
                continue  # bare quality adjectives aren't named complaints
            # "throbbing pain" names the located pain when a limb is in
            # scope, otherwise the quality itself is the symptom
            if item == "throbbing pain":
                item = f"{site_of()} pain" if site_of() in ("leg", "arm") else "throbbing"
                if item == "throbbing" and any("pain" in c for c in self._covered):
                    continue  # pain already named; "throbbing" was its quality
            elif item in _SITE_SYMPTOMS and (
                site_of() in ("leg", "arm") or (site_of() == "foot" and item == "wound")
            ):
                item = f"{site_of()} {item}"
            self._add(mentions, item)

    def _add(self, mentions: list[str], item: str) -> None:
        if not item or item in mentions:
            return
        if self.canonicalize is not None:
            concepts = set(self.canonicalize(item))
            if not concepts or concepts <= self._covered:
                return  # unlinkable, or names nothing new
            if len(self._covered) >= MAX_MENTIONS:
                return  # concept budget exhausted (LLM maxItems analog)
            self._covered |= concepts
        mentions.append(item)


_SENTENCE_CUT = re.compile(r"([.]\s+|[.]$)")


def trim_to_token_budget(text: str, max_tokens: int, count_tokens=None) -> str:
    """Drop trailing sentences until the text fits a token budget.

    Reference semantics (``llacie/inference/llama_cpp.py:44-67``): while the
    tokenized length exceeds the limit, split on sentence boundaries and cut
    four pieces (two sentences + their separators) off the end. The token
    counter is injectable (a real tokenizer in production); the default
    approximates tokens as whitespace words.
    """
    count = count_tokens or (lambda t: len(t.split()))
    while count(text) > max_tokens:
        pieces = _SENTENCE_CUT.split(text)
        if len(pieces) <= 4:
            # can't drop whole sentences anymore: hard-cut words
            words = text.split()
            return " ".join(words[:max_tokens])
        text = "".join(pieces[:-4]).strip()
    return text


class LLMScorer:
    """Production scorer: batched LLM/NER model call per Arrow batch.

    The model backend (e.g. a vLLM engine) is injected as ``scorer_fn:
    list[str] -> list[list[str]]`` and initialized lazily once per executor —
    the Spark analog of the reference's one-engine-per-worker design
    (``llacie/inference/vllm.py:98-110``). Without a backend this raises,
    keeping CI model-free while the plumbing stays exercised via injection.
    """

    name = "feature.presenting_sx.llm"
    version = "0.1.0"

    def __init__(self, scorer_fn=None, raw_output: bool = False):
        """``raw_output=True`` adapts a non-schema-constrained backend whose
        ``scorer_fn`` returns raw prose (``list[str]``) instead of structured
        mention arrays: each response is run through the X3 list cleanup
        (``operators/listclean.py``, reference text_wrangling.py:70-77);
        unparseable responses yield no mentions."""
        self._scorer_fn = scorer_fn
        self._raw_output = raw_output

    def score_batch(self, texts: Sequence[str | None]) -> list[list[str]]:
        if self._scorer_fn is None:
            raise NotImplementedError(
                "LLMScorer needs an injected batched model backend; "
                "use GazetteerScorer for deterministic runs"
            )
        out = self._scorer_fn([t or "" for t in texts])
        if not self._raw_output:
            return out
        from .operators.listclean import cleanup_mention_list

        return [cleanup_mention_list(raw) or [] for raw in out]


def iter_score(scorer, text_iter: Iterable[str | None], batch_size: int = 256):
    """Batch an iterator of texts through a scorer (used by mapInPandas)."""
    batch: list[str | None] = []
    for t in text_iter:
        batch.append(t)
        if len(batch) >= batch_size:
            yield from scorer.score_batch(batch)
            batch = []
    if batch:
        yield from scorer.score_batch(batch)


# ------------------------------------------------------------------ registry
#
# D1: the reference discovers strategies by importing modules and indexing
# AbstractStrategy subclasses, then resolves them by name glob
# (``/root/reference/llacie/strategies/__init__.py:15-80``,
# ``find_strategies``). Here strategies are scorer factories registered by
# dotted name; ``find_scorers`` keeps the glob-match ergonomics and
# ``get_scorer`` is the CLI/pipeline entry (jobs/run_kg.py --scorer).

SCORER_REGISTRY: dict[str, Callable[..., object]] = {}


def register_scorer(name: str):
    """Register a scorer factory under a dotted strategy name. Factories
    take keyword config and return an object with ``score_batch``."""

    def deco(factory):
        SCORER_REGISTRY[name] = factory
        return factory

    return deco


def find_scorers(name_glob: str = "*") -> list[str]:
    """Registered names matching a glob (reference find_strategies shape)."""
    from fnmatch import fnmatch

    return sorted(n for n in SCORER_REGISTRY if fnmatch(n, name_glob))


def get_scorer(name: str, **config):
    try:
        factory = SCORER_REGISTRY[name]
    except KeyError:
        raise ValueError(
            f"unknown scorer {name!r}; registered: {sorted(SCORER_REGISTRY)}"
        ) from None
    return factory(**config)


class CachingScorer:
    """Memoize ``score_batch`` per distinct input text — the Spark-side
    analog of the reference's content-keyed response cache
    (``/root/reference/llacie/cache/sqlite.py``: LLM outputs are stored by
    note hash so repeated content is scored once per corpus).

    Worker-local bounded LRU, so each executor pays one scoring per distinct
    text it sees; within a batch, duplicate texts are scored once. Correct
    ONLY for deterministic scorers (the gazetteer is a pure function of the
    text; wrap an LLM scorer only with sampling off — the same caveat the
    reference cache carries). Cached lists are returned by reference and
    must be treated as read-only, which the Arrow serialization boundary in
    the pipeline UDF guarantees.

    Honest-benchmark note: cache effectiveness is a CORPUS property. The
    synthetic bench corpus has ~0.5% distinct sections (100 templates), so
    a cached run measures dictionary lookups, not extraction — which is why
    the headline bench stays uncached and any cached number must disclose
    the corpus' duplicate ratio alongside it.
    """

    def __init__(self, inner, max_entries: int = 65_536):
        from collections import OrderedDict

        self.inner = inner
        self.name = f"cached:{getattr(inner, 'name', type(inner).__name__)}"
        self.version = getattr(inner, "version", "0")
        self._cache: "OrderedDict[str, list[str]]" = OrderedDict()
        self._max = max_entries
        self.hits = 0
        self.misses = 0

    def score_batch(self, texts: Sequence[str | None]) -> list[list[str]]:
        out: list = [None] * len(texts)
        pending: dict[str, list[int]] = {}
        for i, t in enumerate(texts):
            if not t:
                out[i] = []
                continue
            hit = self._cache.get(t)
            if hit is not None:
                self._cache.move_to_end(t)
                self.hits += 1
                out[i] = hit
            else:
                pending.setdefault(t, []).append(i)
        if pending:
            keys = list(pending)
            scored = self.inner.score_batch(keys)
            for k, v in zip(keys, scored):
                self.misses += 1
                self._cache[k] = v
                if len(self._cache) > self._max:
                    self._cache.popitem(last=False)
                for i in pending[k]:
                    out[i] = v
        return out


@register_scorer("feature.presenting_sx.gazetteer")
def _gazetteer_factory(vocab=None, **_):
    if vocab is None:
        raise ValueError("gazetteer scorer needs vocab=Vocab(...)")
    return GazetteerScorer(canonicalize=vocab.find_terms)


@register_scorer("feature.presenting_sx.gazetteer.cached")
def _gazetteer_cached_factory(vocab=None, max_entries: int = 65_536, **_):
    if vocab is None:
        raise ValueError("gazetteer scorer needs vocab=Vocab(...)")
    return CachingScorer(
        GazetteerScorer(canonicalize=vocab.find_terms), max_entries=max_entries
    )


@register_scorer("feature.presenting_sx.llm")
def _llm_factory(scorer_fn=None, raw_output: bool = False, **_):
    return LLMScorer(scorer_fn=scorer_fn, raw_output=raw_output)


class SubprocessScorer:
    """U2/U3: batched scoring through a local inference subprocess — the
    llama.cpp execution path (reference ``llacie/strategies/
    abstract_llama_cpp.py:86-131``: prompt template -> autotrim -> subprocess
    -> strip EOT token -> parse a JSON array of strings; unparseable output
    logs a warning and yields no mentions).

    Spark-shape difference: the reference loops notes one subprocess call at
    a time on a GPU worker; here one subprocess handles a whole Arrow batch
    over a line protocol (one JSON-encoded prompt string per stdin line, one
    JSON-encoded response string per stdout line — JSON strings so multi-line
    model output stays one line on the wire), so per-call process/model
    startup amortizes across the batch. Executors each run their own subprocess — the
    one-engine-per-worker design. For persistent-server backends (vLLM)
    inject ``LLMScorer`` instead.

    ``raw_output=True`` routes non-JSON responses through the X3 list
    cleanup (``operators/listclean.py``) instead of dropping them — the
    legacy llama-1 behavior."""

    name = "feature.presenting_sx.subprocess"
    version = "0.1.0"

    def __init__(
        self,
        argv: Sequence[str],
        prompt_template: str = "{input}",
        max_tokens: int | None = None,
        trim_eot_regex: str | None = None,
        raw_output: bool = False,
        timeout_s: float = 600.0,
    ):
        self.argv = list(argv)
        self.prompt_template = prompt_template
        self.max_tokens = max_tokens
        self.trim_eot_regex = re.compile(trim_eot_regex) if trim_eot_regex else None
        self.raw_output = raw_output
        self.timeout_s = timeout_s

    def _prompt(self, text: str) -> str:
        if self.max_tokens is not None:
            trimmed = trim_to_token_budget(text, self.max_tokens)
            # autotrim failure -> fall back to the full text (reference
            # abstract_llama_cpp.py:106-110)
            text = trimmed if trimmed else text
        return self.prompt_template.format(input=text)

    def _parse(self, raw: str) -> list[str]:
        import json

        if self.trim_eot_regex is not None:
            raw = self.trim_eot_regex.sub("", raw)
        try:
            parsed = json.loads(raw)
            if isinstance(parsed, list):
                return [str(v) for v in parsed]
        except (ValueError, TypeError):
            pass
        if self.raw_output:
            from .operators.listclean import cleanup_mention_list

            return cleanup_mention_list(raw) or []
        return []  # reference: warn + skip unparseable output

    def score_batch(self, texts: Sequence[str | None]) -> list[list[str]]:
        import json
        import subprocess

        prompts = [self._prompt(t or "") for t in texts]
        payload = "\n".join(json.dumps(p) for p in prompts) + "\n"
        proc = subprocess.run(
            self.argv,
            input=payload,
            capture_output=True,
            text=True,
            timeout=self.timeout_s,
            check=True,
        )
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if len(lines) != len(prompts):
            raise RuntimeError(
                f"subprocess returned {len(lines)} responses for {len(prompts)} prompts"
            )
        responses = []
        for line in lines:
            try:
                decoded = json.loads(line)
            except ValueError as e:
                raise RuntimeError(f"response line is not a JSON string: {line!r}") from e
            if not isinstance(decoded, str):
                raise RuntimeError(f"response line must decode to a string: {line!r}")
            responses.append(decoded)
        return [self._parse(r) for r in responses]


@register_scorer("feature.presenting_sx.subprocess")
def _subprocess_factory(argv=None, **config):
    if not argv:
        raise ValueError("subprocess scorer needs argv=[...] for the inference binary")
    return SubprocessScorer(argv=argv, **config)
