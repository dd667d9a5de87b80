"""Relational entity linking: candidate-generation join + greedy rerank.

The UDF linker (``Vocab.find_terms`` in ``pipeline.fused_extract``) broadcasts the whole dictionary
into Python — right when the dictionary is ~1k concepts. At UMLS/SNOMED scale
(millions of surface forms) the dictionary can't ride a closure, so linking
becomes a dataflow problem (SURVEY.md J11 option b):

1. **candidate generation** — explode each mention line into token n-grams
   (JVM-side ``transform``/``slice``, one explode), then equi-join against
   the ``concepts`` table on the n-gram. Spark broadcasts the build side
   automatically when small; ``salt_buckets`` demonstrates the explicit
   salted-join pattern for Zipf-skewed surface forms (the `fever`/`pain`
   head): the probe side gets a random salt, the build side is exploded
   ×B, so one hot n-gram's matches spread over B reducers.
2. **greedy rerank** — reproduce the reference matcher's semantics
   (``/root/reference/llacie/vocab.py:100-121``) exactly: scan positions
   left→right, take the longest dictionary hit at the current position,
   consume its tokens (skipping any candidate starting inside the consumed
   span), else advance one token; across lines the earliest line wins. The
   scan is inherently sequential *per line*, so it runs in
   ``applyInPandas`` over (doc, line) groups — but by then the data is
   only the surviving candidates, not the corpus or the dictionary.

Output matches ``Vocab.find_terms``: (doc_id, label_name, line_number) with
line_number = earliest 1-based mention line (property-tested equal).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_CLEAN = r"[^a-z0-9]+"


def mention_tokens(mentions_df: DataFrame, id_col: str = "doc_id", mentions_col: str = "mentions") -> DataFrame:
    """(doc_id, mentions array) -> (doc_id, line_number, tokens array).
    Tokenization identical to the reference matcher (vocab.py:110)."""
    exploded = mentions_df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(mentions_col).alias("line_idx", "mention"),
    )
    return exploded.select(
        "doc_id",
        (F.col("line_idx") + 1).alias("line_number"),
        F.split(
            F.trim(F.regexp_replace(F.lower("mention"), TOKEN_CLEAN, " ")), r"\s+"
        ).alias("tokens"),
    )


def candidate_ngrams(tokens_df: DataFrame, max_n: int = 3) -> DataFrame:
    """Explode every token position into its 1..max_n-gram candidates:
    (doc_id, line_number, pos, n, gram). One explode; grams built JVM-side."""
    def gram_maker(n: int):
        # closure factory: a 2-arg lambda would make Spark bind the array
        # INDEX to the second parameter (transform's (element, idx) form)
        return lambda i: F.struct(
            i.alias("pos"),
            F.lit(n).alias("n"),
            F.array_join(F.slice("tokens", i + 1, n), " ").alias("gram"),
        )

    per_n = [
        F.when(
            F.size("tokens") >= n,
            F.transform(F.sequence(F.lit(0), F.size("tokens") - n), gram_maker(n)),
        ).otherwise(F.array().cast("array<struct<pos:int,n:int,gram:string>>"))
        for n in range(1, max_n + 1)
    ]
    return tokens_df.select(
        "doc_id",
        "line_number",
        F.explode(F.flatten(F.array(*per_n))).alias("c"),
    ).select("doc_id", "line_number", "c.pos", "c.n", "c.gram")


def generate_candidates(
    tokens_df: DataFrame,
    concepts_df: DataFrame,
    max_n: int = 3,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Join n-gram candidates against the concept dictionary.

    ``concepts_df`` needs (ngram, n, canonical_name[, emit_order]). With
    ``salt_buckets`` the join key becomes (gram, salt): candidates get a
    deterministic pseudo-random salt, the dictionary is exploded ×B —
    the standard skew-spreading trade (B× build-side rows for even
    reducers). Leave None to let AQE handle moderate skew.
    """
    cands = candidate_ngrams(tokens_df, max_n)
    dict_df = concepts_df.withColumnRenamed("ngram", "gram")
    if "emit_order" not in dict_df.columns:
        dict_df = dict_df.withColumn("emit_order", F.lit(0))
    if salt_buckets:
        cands = cands.withColumn(
            "salt",
            F.pmod(F.xxhash64("doc_id", "line_number", "pos"), F.lit(salt_buckets)).cast("int"),
        )
        dict_df = dict_df.withColumn(
            "salt", F.explode(F.array(*[F.lit(b) for b in range(salt_buckets)]))
        )
        join_keys = ["gram", "salt"]
    else:
        join_keys = ["gram"]
    return cands.join(dict_df, join_keys).select(
        "doc_id", "line_number", "pos", cands["n"].alias("n"), "gram", "canonical_name", "emit_order"
    )


# schema of the rerank output
_RERANK_SCHEMA = "doc_id string, line_number long, label_name string"


def _greedy_rerank(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy longest-first scan with token consumption over one (doc, line)
    group's candidates — semantics-equal to vocab.py:109-121."""
    out = []
    for (doc, line), grp in pdf.groupby(["doc_id", "line_number"], sort=False):
        by_pos: dict[int, list] = {}
        for row in grp.itertuples(index=False):
            by_pos.setdefault(row.pos, []).append(row)
        if not by_pos:
            continue
        max_pos = max(by_pos)
        nxt = 0
        pos = 0
        while pos <= max_pos:
            if pos >= nxt and pos in by_pos:
                best_n = max(r.n for r in by_pos[pos])
                winners = sorted(
                    (r for r in by_pos[pos] if r.n == best_n), key=lambda r: r.emit_order
                )
                for r in winners:
                    out.append((doc, line, r.canonical_name))
                nxt = pos + best_n
            pos += 1
    return pd.DataFrame(out, columns=["doc_id", "line_number", "label_name"])


def link_mentions_relational(
    mentions_df: DataFrame,
    concepts_df: DataFrame,
    max_n: int = 3,
    salt_buckets: int | None = None,
    id_col: str = "doc_id",
    mentions_col: str = "mentions",
) -> DataFrame:
    """mentions -> (doc_id, label_name, line_number): the scale-path linker.

    line_number = earliest line the term matched on (the reference's
    reverse-iteration overwrite ≡ min over lines)."""
    toks = mention_tokens(mentions_df, id_col, mentions_col)
    cands = generate_candidates(toks, concepts_df, max_n, salt_buckets)
    linked = cands.groupBy("doc_id", "line_number").applyInPandas(
        lambda pdf: _greedy_rerank(pdf), _RERANK_SCHEMA
    )
    return linked.groupBy("doc_id", "label_name").agg(
        F.min("line_number").alias("line_number")
    )
