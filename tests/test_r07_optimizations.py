"""Focused equivalence tests for the r07 optimization-round rewrites.

Every optimization that changed an operator's internals must keep results
IDENTICAL; these tests pin each rewrite against its pre-r07 formulation on
inputs chosen to hit the edge cases the equivalence proofs rely on.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from llacie_spark.operators import textstats


# --------------------------------------------------------------- textstats


TRICKY_TEXTS = [
    "the cat and the dog",
    "the the the",
    "of is to and the",
    "tothe the, xthe the.",  # punctuation-attached and glued tokens differ
    "",
    "   ",
    "\tthe and",  # leading tab: split(trim) yields a '' artifact token
    "the\tand\nof",  # mixed whitespace separators
    "a  the   and",  # multi-space runs
    "todo isto",  # marker-prefixed words must not count
    "the",
    " the ",
    "und the und",  # another language's marker inside en text
]


def _hof_stopword_hits(col, words):
    """The pre-r07 formulation: size(filter(split(trim), contains))."""
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(
            F.split(F.trim(F.col(col)), r"\s+"),
            lambda t: F.array_contains(lit_words, t),
        )
    )


def test_stopword_hits_matches_hof_form(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY_TEXTS)], ["i", "text"])
    for lang, words in textstats.LANG_MARKERS.items():
        if not words:
            continue
        got = df.select("i", textstats.stopword_hits("text", words).alias("n")).collect()
        want = df.select("i", _hof_stopword_hits("text", words).alias("n")).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), lang


def test_avg_token_len_and_punct_ratio_match_replace_forms(spark):
    texts = TRICKY_TEXTS + ["a,b;c!", "¡hola! ¿qué tal?", "42% of $5.00"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = df.select(
        "i",
        textstats.avg_token_len("text").alias("atl"),
        textstats.punct_ratio("text").alias("pr"),
    ).collect()
    want = df.select(
        "i",
        (
            F.length(F.regexp_replace("text", r"\s+", ""))
            / F.size(F.split(F.trim("text"), r"\s+"))
        ).alias("atl"),
        (
            F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("pr"),
    ).collect()
    for g, w in zip(sorted(got), sorted(want)):
        assert g["i"] == w["i"]
        for f in ("atl", "pr"):
            if w[f] is None or (isinstance(w[f], float) and math.isnan(w[f])):
                assert g[f] is None or math.isnan(g[f])
            else:
                assert g[f] == w[f], (g["i"], f, g[f], w[f])


# -------------------------------------------------------------------- dedup


def test_jaccard_size_prune_keeps_boundary_pairs(spark):
    """Pairs at exactly the threshold must survive the size-compatibility
    prune: A=B' with |A|=|B| and J=t boundary, plus a pair whose sizes sit
    exactly on (1+t)*min == t*(min+max)."""
    from llacie_spark.operators.dedup import jaccard_pairs

    # 10 shingles each, 8 common -> J = 8/12 = 2/3 with t=2/3 exact boundary
    base = [f"w{i}" for i in range(30)]
    doc_a = " ".join(base[0:12])  # 10 shingles (12 tokens -> 10 trigrams)
    doc_b = " ".join(base[2:14])  # shares trigrams of overlap region
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], ["doc_id", "text"])
    sh_count = 10
    common = 8  # trigrams fully inside the 10-token overlap region
    expected_j = common / (2 * sh_count - common)
    out = jaccard_pairs(df, threshold=expected_j).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - expected_j) < 1e-12

    # size-ratio boundary: |A|=4t/(matching)/|B| such that (1+t)min == t(sum)
    # with t=0.8: min=4, max=5 -> 1.8*4 = 7.2 == 0.8*9 -> must NOT be pruned
    a = "a b c d e f"  # 4 trigrams
    b = "a b c d e f g"  # 5 trigrams, 4 common -> J = 4/5 = 0.8 exactly
    df2 = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    out2 = jaccard_pairs(df2, threshold=0.8).collect()
    assert len(out2) == 1 and abs(out2[0]["jaccard"] - 0.8) < 1e-12



def test_jaccard_size_prune_keeps_boundary_pairs_at_large_sizes(spark):
    """At 1e8+ shingles the prune's double rounding error exceeds an
    absolute slack. Each boundary pair is a subset pair (common = min)
    whose min/max >= t in double, so the final filter keeps it; the prune
    must keep it too, and must still drop a pair far from the boundary."""
    from llacie_spark.operators.dedup import size_compatible

    boundary = [(0.8, 208473584, 260591980), (0.9, 131374818, 145972020),
                (0.45, 174498066, 387773480), (0.8, 756986876, 946233595)]
    far = [(0.8, 100_000_000, 200_000_000)]
    for t, a, b in boundary + far:
        sz_a, sz_b = F.lit(a).cast("long"), F.lit(b).cast("long")
        r = spark.range(1).select(
            (sz_a / sz_b >= t).alias("final"), size_compatible(sz_a, sz_b, t).alias("kept")
        ).first()
        assert r.final == ((t, a, b) in boundary)
        assert r.kept == r.final, (t, a, b)

def test_argmin_min_by_matches_window(spark):
    """The min_by argmin form equals the rank-1 window on ties-by-key data."""
    from pyspark.sql.window import Window

    rows = [
        (1, 10, "2020-01-02"),
        (1, 11, "2020-01-01"),
        (1, 12, "2020-01-01"),  # date tie -> lower key wins
        (2, 20, "2021-05-05"),
        (3, 31, "2019-01-01"),
        (3, 30, "2019-01-01"),
    ]
    df = spark.createDataFrame(rows, ["k", "id", "d"])
    w = Window.partitionBy("k").orderBy(F.col("d").asc(), F.col("id").asc())
    want = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select("k", "id", "d")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            df.groupBy("k")
            .agg(F.min_by(F.struct("id", "d"), F.struct(F.col("d"), F.col("id"))).alias("w"))
            .select("k", "w.id", "w.d")
            .collect(),
        )
    )
    assert got == want


def test_stratified_sample_null_stratum_gets_default_rate(spark):
    """The broadcast-join rate lookup must treat null strata like the old
    when-chain: null matched no branch and fell to the default rate."""
    from llacie_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, None if i % 2 else "en") for i in range(400)], ["doc_id", "lang"]
    )
    out = stratified_sample(
        df, F.col("lang"), rates={"en": 1.0}, default_rate=1.0, id_col="doc_id"
    )
    # default_rate=1.0 keeps every row, listed or not -> proves null rows
    # take the default path rather than being dropped by an inner join
    assert out.count() == 400
    zero = stratified_sample(
        df, F.col("lang"), rates={"en": 1.0}, default_rate=0.0, id_col="doc_id"
    )
    rows = zero.collect()
    assert rows and all(r["stratum"] == "en" for r in rows)
    # column order: original columns then stratum (driver schema contract)
    assert zero.columns == ["doc_id", "lang", "stratum"]
