r"""Word triggers of regular expressions: words that every match must hold.

A pattern's trigger is derived from its parse tree (``re._parser``) as a list
of *clauses*, each a set of *elements* of which every match holds at least
one. An element is a whole word (``"fever"``), a word prefix (``"fever*"``:
a word starting with "fever") or a digit (``"#"``). A text whose words meet
no element of some clause cannot hold a match, so a caller may skip the
pattern on it. A pattern whose clauses cannot be derived gets none.

The analysis is for lowercase text and patterns without ``re.I``. A word is
a run of ``[a-z0-9_]``: any other character separates words, upper-case and
non-ASCII letters included, in the text and in a pattern's literals alike.
Where a regex sees a word boundary (``\b``, a non-word character), so does
this: a non-ASCII letter only joins regex words, so the words of a match
are whole words here too.

:class:`Triggers` numbers the clauses of many patterns (one bit each) and
finds, in one regex scan of a text's words, the clauses the text meets.
"""

from __future__ import annotations

import functools
import re
from re import _constants as _C
from re import _parser
from types import SimpleNamespace

_WORD_CHARS = frozenset("abcdefghijklmnopqrstuvwxyz0123456789_")
_REPEATS = (_C.MAX_REPEAT, _C.MIN_REPEAT)
_BOUNDS = (_C.AT_BOUNDARY, _C.AT_BEGINNING, _C.AT_BEGINNING_STRING, _C.AT_END, _C.AT_END_STRING)
_NONWORD_SETS = (_C.CATEGORY_SPACE, _C.CATEGORY_NOT_WORD)
_DIGIT_SETS = ([(_C.CATEGORY, _C.CATEGORY_DIGIT)], [(_C.RANGE, (48, 57))])
_RUN = re.compile("[a-z0-9_]+")


def clauses(rx: re.Pattern) -> list[frozenset[str]]:
    """The clauses of a compiled pattern's trigger. A clause with a
    one-letter prefix, which nearly every text meets, is left out."""
    try:
        return [c for c in _clauses(_parser.parse(rx.pattern, rx.flags)) if _score(c) > 1]
    finally:
        _strings.cache_clear()
        _seq_edge.cache_clear()


def _alts(op, av) -> set[str] | None:
    """The strings one parsed item matches, if it is a literal, a literal set,
    or a group, alternation or optional part of such; else None."""
    if op is _C.LITERAL:
        return {chr(av)}
    if op is _C.IN:
        return {chr(c) for _, c in av} if all(o is _C.LITERAL for o, _ in av) else None
    if op is _C.BRANCH:
        alts = [_strings(b) for b in av[1]]
        return None if None in alts else set().union(*alts)
    if op is _C.SUBPATTERN or op in _REPEATS and av[1] == 1:
        alts = _strings(av[-1])
        return alts if alts is None or op is _C.SUBPATTERN or av[0] else alts | {""}
    return None


@functools.cache
def _strings(seq) -> set[str] | None:
    """The strings a parsed sequence matches, if literal-like (at most 64)."""
    out = {""}
    for op, av in seq.data:
        alts = _alts(op, av)
        out = alts and {a + b for a in out for b in alts}
        if out is None or len(out) > 64:
            return None
    return out


def _edge(op, av, last: bool) -> str | None:
    """How a parsed item's first (``last``: final) character meets its
    neighbour: "b" across a word boundary, "" if it may match empty and
    otherwise would, None if it may meet inside a word."""
    if op is _C.AT:
        return "b" if av in _BOUNDS else None
    if op in (_C.ASSERT, _C.ASSERT_NOT):
        return ""
    if op is _C.LITERAL or op is _C.IN:
        chars = [(op, av)] if op is _C.LITERAL else av
        nonword = (o is _C.LITERAL and chr(a) not in _WORD_CHARS or o is _C.CATEGORY and a in _NONWORD_SETS for o, a in chars)
        return "b" if all(nonword) else None
    if op is _C.BRANCH:
        edges = {_seq_edge(b, last) for b in av[1]}
        return None if None in edges else min(edges)
    if op is _C.SUBPATTERN or op in _REPEATS:
        e = _seq_edge(av[-1], last)
        return e if e is None or op is _C.SUBPATTERN or av[0] else ""
    return None


@functools.cache
def _seq_edge(seq, last: bool) -> str | None:
    for op, av in reversed(seq.data) if last else seq.data:
        if (e := _edge(op, av, last)) != "":
            return e
    return ""


def _score(clause) -> float:
    """A clause's weakest element: the longer a word, the rarer."""
    return -1 if clause is None else min(1.5 if e == "#" else len(e) - 1 if e[-1] == "*" else len(e) + 1 for e in clause)


def _pick(strs, lb: bool, rb: bool) -> frozenset[str] | None:
    """A clause for literal strings whose surroundings start (``lb``) / end
    (``rb``) at a word boundary or not: the best element of each, a word, a
    prefix where the string may end inside a word, or a digit; None if one
    string has none."""
    clause = set()
    for s in strs:
        best, score = ("#", 1.5) if any(c in "0123456789" for c in s) else (None, -1)
        for m in _RUN.finditer(s):
            whole = m.end() < len(s) or rb
            if (m.start() or lb) and len(m[0]) + whole > score:
                best, score = m[0] if whole else m[0] + "*", len(m[0]) + whole
        if best is None:
            return None
        clause.add(best)
    return frozenset(clause)


def _clauses(seq, lb: bool = False, rb: bool = False) -> list[frozenset[str]]:
    """A parsed sequence's clauses; ``lb``/``rb``: what surrounds it starts /
    ends at a word boundary."""
    seq = seq.data
    n = len(seq)
    left, right = [lb] * (n + 1), [rb] * (n + 1)  # a boundary before item i / at item i
    for i in range(n):
        e = _edge(*seq[i], True)
        left[i + 1] = e == "b" or e == "" and left[i]
        e = _edge(*seq[n - 1 - i], False)
        right[n - 1 - i] = e == "b" or e == "" and right[n - i]
    out, i = [], 0
    while i < n:
        strs, j = {""}, i  # the longest run of literal-like items, as its strings
        while j < n and (alts := _alts(*seq[j])) and len(grown := {a + b for a in strs for b in alts}) <= 64:
            strs, j = grown, j + 1
        op, av = seq[i]
        if j > i:
            out.append(_pick(strs, left[i], right[j]))
        elif op is _C.BRANCH:  # one clause: each branch's best, joined
            best = [
                _pick(s, left[i], right[i + 1]) if (s := _strings(b)) is not None
                else max(_clauses(b, left[i], right[i + 1]), key=_score, default=None)
                for b in av[1]
            ]
            out.append(None if None in best else frozenset().union(*best))
        elif op is _C.SUBPATTERN or op in _REPEATS and av[0]:  # its first match
            out += _clauses(av[-1], left[i], right[i + 1] and (op is _C.SUBPATTERN or av[1] == 1))
        elif op is _C.IN and av in _DIGIT_SETS:
            out.append(frozenset("#"))
        i = max(j, i + 1)
    return [c for c in out if c is not None]


class Triggers:
    """Clauses numbered one bit each, and the scan that finds the clauses a
    text meets."""

    def __init__(self):
        self.bits: dict[frozenset[str], int] = {}
        self.keys: dict[str, int] = {}  # element -> bits of the clauses holding it
        self._scan = None

    def need(self, clauses) -> int:
        """The bits of ``clauses``, numbering the new ones."""
        need = 0
        for clause in clauses:
            if clause not in self.bits:
                self.bits[clause], self._scan = 1 << len(self.bits), None
            need |= self.bits[clause]
            for e in clause:
                self.keys[e] = self.keys.get(e, 0) | self.bits[clause]
        return need

    def _compile(self) -> None:
        # The scan finds, for each word, the longest element word it is or
        # starts with; _hits maps that to the clauses it meets (index 0: as
        # the prefix of a longer word, 1: as the whole word).
        words = {e.rstrip("*") for e in self.keys if e != "#"}
        self._hits = {}
        for w in words:
            pre = functools.reduce(int.__or__, (self.keys.get(w[:k] + "*", 0) for k in range(1, len(w) + 1)))
            self._hits[w.encode()] = (pre, pre | self.keys.get(w, 0))

        def branch(c: str) -> str:  # whole words (they must end there), then prefixes, longest first
            rest = [[w[1:] for w in sorted(words, key=len, reverse=True) if w[0] == c and (w + "*" in self.keys) == p]
                    for p in (False, True)]
            alts = [f"(?:{'|'.join(rest[0])})(?= )"] * bool(rest[0]) + ["|".join(rest[1])] * bool(rest[1])
            return f"{c}(?:{'|'.join(alts)})"

        self._scan = re.compile(f" ({'|'.join(map(branch, sorted({w[0] for w in words})))})([a-z0-9_]*)".encode())
        self._digit = self.keys.get("#", 0)

    def mask(self, text: str) -> int:
        """Bits of the clauses that the words and digits of lowercase
        ``text`` meet."""
        if self._scan is None:
            self._compile()
        mask = self._digit if _DIGIT.search(text) else 0
        for w, rest in self._scan.findall(b" " + text.encode(errors="surrogatepass").translate(_SPACED) + b" "):
            mask |= self._hits[w][not rest]
        return mask


class Pruner:
    """Copies of a namespace of patterns, each alone or leading a tuple in a
    list, with DEAD for each pattern whose clause bits (``need``) a mask
    leaves unmet."""

    def __init__(self, table: SimpleNamespace, need: dict[re.Pattern, int]):
        self.table = table
        self.patterns = [(k, need[v]) for k, v in vars(table).items() if isinstance(v, re.Pattern) and need.get(v)]
        self.lists = [  # (name, [(pattern, rest of the tuple, need)])
            (k, [(t[0], t[1:], need.get(t[0], 0)) for t in v]) for k, v in vars(table).items()
            if isinstance(v, list) and any(need.get(t[0]) for t in v if isinstance(t, tuple))
        ]

    def __call__(self, mask: int) -> SimpleNamespace:
        if not ~mask:
            return self.table
        out = SimpleNamespace(**vars(self.table))
        for name, need in self.patterns:
            if need & ~mask:
                setattr(out, name, DEAD)
        for name, items in self.lists:
            setattr(out, name, [(DEAD if need & ~mask else rx, *rest) for rx, rest, need in items])
        return out


_SPACED = bytes(c if chr(c) in _WORD_CHARS else 32 for c in range(256))  # a non-word byte -> space
_DIGIT = re.compile(r"\d")
DEAD = SimpleNamespace(  # a pattern whose trigger is absent: it matches nothing
    search=lambda s, *_: None, match=lambda s, *_: None, finditer=lambda s, *_: iter(()),
    sub=lambda repl, s, *_: s, split=lambda s, *_: [s],
)
