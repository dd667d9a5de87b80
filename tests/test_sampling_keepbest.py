"""stratified_sample determinism/rates + dedup_keep_best cluster policy."""

import pyspark.sql.functions as F
import pytest

from llacie_spark.operators.dedup import dedup_keep_best
from llacie_spark.operators.sampling import RESOLUTION, keep_bucket, stratified_sample


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_stratified_rates_and_determinism(spark, docs):
    out = stratified_sample(
        docs, F.col("lang"), rates={"en": 0.5, "de": 0.125}, id_col="doc_id", salt="t"
    )
    counts = {r.stratum: r.n for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    # 2000 docs per stratum; hash-uniformity tolerance ~4 sigma
    assert abs(counts["en"] - 1000) < 90
    assert abs(counts["de"] - 250) < 60
    # deterministic: identical output on a second run
    again = stratified_sample(
        docs, F.col("lang"), rates={"en": 0.5, "de": 0.125}, id_col="doc_id", salt="t"
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())


def test_stratified_sample_is_monotone_in_rate(spark, docs):
    """A row kept at rate r stays kept at any rate >= r (hash coin is fixed):
    the property that makes mix re-weighing incremental, not a resample."""
    small = stratified_sample(docs, F.col("lang"), rates={"en": 0.1, "de": 0.1}, salt="t")
    big = stratified_sample(docs, F.col("lang"), rates={"en": 0.4, "de": 0.4}, salt="t")
    assert small.join(big, "doc_id", "left_anti").count() == 0


def test_rate_threshold_rounds_not_truncates(spark):
    """0.3 * 10000 = 2999.999... in doubles; a truncating cast keeps only
    buckets < 2999 and systematically drops the 2999 bucket (ADVICE r2).
    Find an id whose coin lands exactly on 2999 and pin that it is kept."""
    import hashlib

    def bucket(i):  # python twin of keep_bucket(salt="t")
        return int(hashlib.md5(f"t{i}".encode()).hexdigest()[:15], 16) % RESOLUTION

    edge = next(i for i in range(100_000) if bucket(i) == 2999)
    df = spark.createDataFrame([(edge, "en")], "doc_id long, lang string")
    out = stratified_sample(df, F.col("lang"), rates={"en": 0.3}, salt="t")
    assert out.count() == 1



def test_stratified_replaces_existing_stratum_column(spark):
    """A pre-existing ``stratum`` column is replaced, not duplicated, and
    the new stratum may be computed from it."""
    df = spark.createDataFrame([(i, "x") for i in range(50)], "doc_id long, stratum string")
    out = stratified_sample(df, F.upper("stratum"), rates={"X": 1.0}, salt="t")
    assert out.columns == ["doc_id", "stratum"]
    assert {r.stratum for r in out.collect()} == {"X"} and out.count() == 50


def test_stratified_non_string_strata(spark):
    """Integer strata and integer rates keys join through an explicit
    string cast on both sides."""
    df = spark.createDataFrame([(i, i % 3) for i in range(300)], "doc_id long, band int")
    out = stratified_sample(df, F.col("band"), rates={0: 1.0, 1: 0.0}, salt="t")
    kept = {r.doc_id for r in out.collect()}
    assert kept == {i for i in range(300) if i % 3 == 0}
    assert dict(out.dtypes)["stratum"] == "string"

def test_keep_bucket_salt_changes_sample(spark, docs):
    a = docs.where(keep_bucket(F.col("doc_id"), "s1") < RESOLUTION // 4)
    b = docs.where(keep_bucket(F.col("doc_id"), "s2") < RESOLUTION // 4)
    ids_a = {r.doc_id for r in a.collect()}
    ids_b = {r.doc_id for r in b.collect()}
    assert ids_a != ids_b  # different salts -> different (deterministic) coins


def test_dedup_keep_best_clusters_and_policy(spark):
    # two clusters: {1,2,3} (chain 1-2, 2-3) and {10,11}; 99 is unclustered
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.1), (99, 1.0)],
        "doc_id long, quality double",
    )
    out = {r.doc_id: r for r in dedup_keep_best(pairs, quality).collect()}
    assert set(out) == {1, 2, 3, 10, 11}  # 99 absent = kept by definition
    # cluster {1,2,3}: best quality 0.9 tie between 2 and 3 -> min doc_id 2
    assert out[1].keep_doc_id == 2 and not out[1].is_kept
    assert out[2].is_kept and out[3].keep_doc_id == 2
    # cluster {10,11}: tie at 0.1 -> keep 10
    assert out[10].is_kept and out[11].keep_doc_id == 10
    # cluster id = min member
    assert out[3].cluster == 1 and out[11].cluster == 10


def test_dedup_keep_best_string_ids(spark):
    """The documents schema says doc_id: string — the keeper tie-break must
    not assume numeric ids (round 2 negated the id inside max_by and would
    fail analysis here). Lexicographic min among quality ties."""
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x2", "x1")],
        "doc_a string, doc_b string",
    )
    quality = spark.createDataFrame(
        [("doc-a", 0.5), ("doc-b", 0.9), ("doc-c", 0.9), ("x1", 0.3), ("x2", 0.7)],
        "doc_id string, quality double",
    )
    out = {r.doc_id: r for r in dedup_keep_best(pairs, quality).collect()}
    assert set(out) == {"doc-a", "doc-b", "doc-c", "x1", "x2"}
    # {doc-a,doc-b,doc-c}: quality tie 0.9 between doc-b/doc-c -> min id doc-b
    assert out["doc-a"].keep_doc_id == "doc-b" and out["doc-b"].is_kept
    assert out["doc-c"].keep_doc_id == "doc-b" and not out["doc-c"].is_kept
    # {x1,x2}: x2 wins on quality despite larger id
    assert out["x1"].keep_doc_id == "x2" and out["x2"].is_kept
    assert out["x1"].cluster == "x1"  # component id = min member


# ---------------------------------------------------------------- property


def _keep_best_reference(edges, quality):
    """Driver-side union-find twin of dedup_keep_best."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for node in parent:
        clusters.setdefault(find(node), []).append(node)
    out = {}
    for comp, members in clusters.items():
        keeper = max(members, key=lambda n: (quality[n], -n))
        for n in members:
            out[n] = (min(members), keeper, n == keeper)
    return out


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@given(edges=_edges, qseed=st.integers(0, 2**31))
@settings(max_examples=25, deadline=None)
def test_keep_best_equals_union_find(spark, edges, qseed):
    import random

    rng = random.Random(qseed)
    nodes = sorted({n for e in edges for n in e})
    quality = {n: rng.choice([0.0, 0.3, 0.7, 1.0]) for n in nodes}

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    qdf = spark.createDataFrame(
        [(int(n), float(q)) for n, q in quality.items()], "doc_id long, quality double"
    )
    got = {
        r.doc_id: (r.cluster, r.keep_doc_id, r.is_kept)
        for r in dedup_keep_best(pairs, qdf).collect()
    }
    assert got == _keep_best_reference(edges, quality)
