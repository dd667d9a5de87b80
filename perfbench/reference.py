"""Plain-Python references the benchmark checks the program's outputs against.

- :class:`NoteExtractor` runs the public per-note functions
  (``extract_short_hpi``, ``GazetteerScorer``, ``Vocab.find_terms``);
  :class:`BackgroundExtraction` runs it over a whole corpus in worker
  processes;
- :func:`expected_graph` applies the earliest-qualifying-note and
  earliest-line rules here, in benchmark code, and renders the nodes and
  edges ``materialize.materialize_graph`` should write;
- :func:`graph_digest` is the order-insensitive digest both sides are
  compared by (every column except ``updated_at`` / ``partition_id``);
- :func:`exact_jaccard_pairs` / :func:`keep_best` are the near-dup
  references.
"""

from __future__ import annotations

import hashlib
import re
import struct

from llacie_spark.operators.sections import clean_note_text, extract_short_hpi
from llacie_spark.schemas import PRED_HAS_SYMPTOM
from llacie_spark.scorer import GazetteerScorer

SECS_IN_24H = 86400
N_BUCKETS = 64
TRIPLE_LINEAGE = ("triples", "episode_label.pres_sx_eplab2", "1.0.0")
NODE_COLS = ["node_id", "kind", "name"]
EDGE_COLS = [
    "subj", "pred", "obj", "weight", "line_number", "provenance_doc",
    "stage", "strategy", "strategy_version", "subj_bucket",
]

# ---------------------------------------------------------------- xxhash64
# Spark's xxhash64(string) is XXH64 over the UTF-8 bytes with seed 42.
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Signed 64-bit XXH64, equal to Spark's ``xxhash64`` of a string."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def subj_bucket(subj: str, n_buckets: int = N_BUCKETS) -> int:
    return xxhash64(subj.encode("utf-8")) % n_buckets  # == Spark pmod


# ---------------------------------------------------------------- extraction


class NoteExtractor:
    """Per-note extraction through the public functions, memoised by text
    (verbatim template copies are extracted once)."""

    def __init__(self, vocab):
        self.vocab = vocab
        self.scorer = GazetteerScorer(canonicalize=vocab.find_terms)
        self._memo: dict[str, tuple] = {}

    def __call__(self, text: str) -> tuple[str | None, list[str], dict[str, int]]:
        hit = self._memo.get(text)
        if hit is None:
            sec = extract_short_hpi(clean_note_text(text)) or None
            mentions = self.scorer.score_batch([sec])[0] if sec else []
            matches = self.vocab.find_terms("\n".join(mentions)) if mentions else {}
            hit = self._memo[text] = (sec, mentions, matches)
        return hit

    def prefill(self, memo: dict[str, tuple]) -> None:
        self._memo.update(memo)


_WORKER_EXTRACT: NoteExtractor | None = None


def _init_worker(vocab_csv: str) -> None:
    global _WORKER_EXTRACT
    from llacie_spark.vocab import Vocab
    from procs import die_with_parent

    die_with_parent()

    _WORKER_EXTRACT = NoteExtractor(Vocab.from_csv(vocab_csv))


def _extract_chunk(texts: list[str], full: bool) -> list:
    if full:
        return [_WORKER_EXTRACT(t) for t in texts]
    return [extract_short_hpi(clean_note_text(t)) or None for t in texts]


class BackgroundExtraction:
    """:class:`NoteExtractor` over the distinct ``texts``, and the HPI
    section alone of the distinct ``section_texts``, in ``workers`` spawned
    processes, started at construction; :meth:`result` waits for it and
    stops the processes. Ten thousand mutated notes take about 30 s of CPU
    on the 4-core host, so this runs beside untimed work."""

    def __init__(self, texts: list[str], section_texts: list[str], vocab_csv: str,
                 workers: int, chunk: int = 200):
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import get_context

        full = list(dict.fromkeys(texts))
        seen = set(full)
        rest = list(dict.fromkeys(t for t in section_texts if t not in seen))
        self._jobs = [(full[i:i + chunk], True) for i in range(0, len(full), chunk)]
        self._jobs += [(rest[i:i + 4 * chunk], False) for i in range(0, len(rest), 4 * chunk)]
        self._pool = ProcessPoolExecutor(workers, mp_context=get_context("spawn"),
                                         initializer=_init_worker, initargs=(vocab_csv,))
        self._futures = [self._pool.submit(_extract_chunk, *job) for job in self._jobs]

    def result(self) -> tuple[dict[str, tuple], dict[str, str | None]]:
        """({text: (section, mentions, matches)}, {text: section}) -- the
        second over both text lists."""
        try:
            memo: dict[str, tuple] = {}
            sections: dict[str, str | None] = {}
            for (texts, full), fut in zip(self._jobs, self._futures):
                out = fut.result()
                if full:
                    memo.update(zip(texts, out))
                    sections.update((t, x[0]) for t, x in zip(texts, out))
                else:
                    sections.update(zip(texts, out))
            return memo, sections
        finally:
            self.close()

    def close(self) -> None:
        self._pool.shutdown(wait=True, cancel_futures=True)


def qualifies(note, section: str | None) -> bool:
    """Filters F1/F2/F4 plus section presence (``pipeline.episode_triples``)."""
    if note.dos is None or note.start is None or section is None:
        return False
    delta = int(note.dos.timestamp()) - int(note.start.timestamp())
    return (note.infection and not note.excl and note.note_type == "H&P"
            and delta < SECS_IN_24H)


def expected_graph(notes, extract) -> tuple[list[tuple], list[tuple], dict]:
    """Nodes and edges of the graph: per episode, the earliest qualifying
    note (smallest service delta, doc id tie-break) wins; each of its terms
    becomes one edge carrying the term's earliest mention line."""
    winners: dict[int, tuple] = {}
    n_qual = 0
    for note in notes:
        sec, _mentions, matches = extract(note.text)
        if not qualifies(note, sec):
            continue
        n_qual += 1
        key = (int(note.dos.timestamp()) - int(note.start.timestamp()), note.doc_id)
        cur = winners.get(note.episode_id)
        if cur is None or key < cur[0]:
            winners[note.episode_id] = (key, note.doc_id, matches)
    nodes, edges = set(), []
    for ep, (_key, doc_id, matches) in winners.items():
        subj = f"episode:{ep}"
        for label, line in matches.items():
            edges.append((subj, PRED_HAS_SYMPTOM, f"concept:{label}", 1.0, line, doc_id,
                          *TRIPLE_LINEAGE, subj_bucket(subj)))
            nodes.add((subj, "episode", str(ep)))
            nodes.add((f"concept:{label}", "concept", label))
    info = {"qualifying": n_qual, "winners": len(winners),
            "qualifying_frac": n_qual / max(1, len(notes))}
    return sorted(nodes), sorted(edges), info


def closed_graph(nodes, edges) -> tuple[bool, str]:
    """Every edge's subject and object is a node, and every node is the end
    of an edge (``materialize_graph`` derives nodes from edges)."""
    ids = {n[0] for n in nodes}
    ends = {e[0] for e in edges} | {e[2] for e in edges}
    ok = ids == ends and len(ids) == len(nodes)
    return ok, "" if ok else (f"{len(ends - ids)} edge ends without a node, "
                              f"{len(ids - ends)} nodes without an edge")


def episode_subgraph(nodes, edges, episodes) -> tuple[list[tuple], list[tuple]]:
    """The edges of ``episodes`` and the nodes at their ends: what
    :func:`expected_graph` renders for those episodes' notes alone."""
    keep = {f"episode:{e}" for e in episodes}
    sub_edges = [e for e in edges if e[0] in keep]
    ends = keep | {e[2] for e in sub_edges}
    return [n for n in nodes if n[0] in ends], sub_edges


def _norm(v) -> str:
    return repr(v) if isinstance(v, float) else str(v)


def graph_digest(nodes, edges) -> str:
    """Order-insensitive digest of node and edge rows (tuples in
    ``NODE_COLS`` / ``EDGE_COLS`` order)."""
    h = hashlib.sha256()
    for tag, rows in (("N", nodes), ("E", edges)):
        for line in sorted("\x1f".join(_norm(v) for v in r) for r in rows):
            h.update(f"{tag}\x1e{line}\x1d".encode())
    return h.hexdigest()


def diff_rows(got, want) -> str:
    g, w = {tuple(map(_norm, r)) for r in got}, {tuple(map(_norm, r)) for r in want}
    return f"{len(w - g)} missing, {len(g - w)} unexpected (got {len(got)}, want {len(want)})"


# ---------------------------------------------------------------- near-dup

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def shingle_set(text: str, n: int = 3) -> set[str]:
    """``dedup.shingles`` semantics: normalized text, distinct word n-grams."""
    toks = _NON_ALNUM.sub(" ", text.lower()).strip(" ").split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def exact_jaccard_pairs(docs: dict[str, str], threshold: float = 0.8) -> dict:
    """{(doc_a, doc_b): jaccard} for every pair with jaccard >= threshold."""
    sh = {d: shingle_set(t) for d, t in docs.items()}
    ids = sorted(d for d, s in sh.items() if s)
    out = {}
    for i, a in enumerate(ids):
        sa = sh[a]
        for b in ids[i + 1:]:
            sb = sh[b]
            # size prune: jaccard <= min/max
            if min(len(sa), len(sb)) < threshold * max(len(sa), len(sb)):
                continue
            common = len(sa & sb)
            j = common / (len(sa) + len(sb) - common)
            if j >= threshold:
                out[(a, b)] = j
    return out


def keep_best(pairs, quality: dict[str, float]) -> set[tuple]:
    """(doc_id, cluster, keep_doc_id, is_kept) rows ``dedup_keep_best``
    must return: clusters are connected components (min id), the keeper has
    max quality, min doc id among ties."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    rows = set()
    for members in comps.values():
        cluster = min(members)
        keep = min(members, key=lambda d: (-quality[d], d))
        rows |= {(d, cluster, keep, d == keep) for d in members}
    return rows
