"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship document-enrichment query at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data operators); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL. Column names and types are aligned on both sides
(explicit casts + 4-decimal rounding on floats) because the driver compares
order-insensitive value hashes.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from llacie_spark.operators import dedup, similarity, textstats  # noqa: E402
from llacie_spark.operators.porthash import portable_hash60, portable_hash60_sql  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.001"


# Tables whose queries do heavy per-row work (regex/text expressions, cosine
# arithmetic, shingle explosion) on the scan output. The sf parquet files are
# single-file, single-row-group (sf1.0 documents = 5.9 MB / 1 row group), so
# without a repartition the scan — and EVERY narrow stage fused over it — runs
# as 1-2 tasks while 30 cores idle (guide §2.5: "one huge unsplittable file —
# repartition immediately after the read"). Measured r07 at sf1.0:
# stratified_sample 12.6→0.9 s, doc_enrich 9.1→2.3 s, knn 3.8→1.8 s,
# simhash 6.8→2.8 s, window_max 0.97→0.79 s. The narrow relational tables
# (events/orders/dims) are deliberately NOT widened: their headline queries
# are plain aggregations whose single-task partial agg already minimizes the
# exchange, and a blanket repartition measurably regressed them (pivot
# 0.39→1.43 s, topk 0.70→1.28 s, star_join 1.09→1.51 s — full-row shuffle +
# sort-before-repartition for zero downstream win).
#
# The value is a minimum input size in bytes: below it the repartition
# exchange costs more than the single-task work it parallelizes (measured at
# sf0.1: widening the 0.6 MB embeddings file took knn_bruteforce
# 0.69 -> 1.37 s and the 13 MB lineitem took window_max 0.60 -> 1.02 s,
# while the same widens are 2-5x WINS at sf1.0 where those files are
# 5.9 MB / 131 MB). documents is 0: its queries do regex work per byte heavy
# enough that widening pays even at 1.7 MB (doc_enrich 1.15 -> 0.43 s at
# sf0.1).
_WIDEN_TABLES = {
    "documents": 0,
    "embeddings": 2 << 20,
    "lineitem": 32 << 20,
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read an sf table; for expression-heavy tables, repartition up to core
    count when the file layout under-parallelizes the scan. Scale-adaptive:
    a production table with >= cores splits never takes the `if` branch, so
    nothing changes where the layout is already parallel."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    min_bytes = _WIDEN_TABLES.get(name)
    if min_bytes is None:
        return df
    path = Path(sf_dir) / f"{name}.parquet"
    size = (
        sum(f.stat().st_size for f in path.rglob("*.parquet"))
        if path.is_dir()
        else path.stat().st_size
    )
    parallelism = spark.sparkContext.defaultParallelism
    if size >= min_bytes and df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    return df


def _embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Vector dimension probe from the RAW file (one-row read) — probing the
    post-_t table paid the widening repartition shuffle just to fetch a row."""
    return len(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("embedding").first()[0]
    )


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: document enrichment — token stats, quality, language guess,
    dedup fingerprint — the front half of a training-data pipeline."""
    return _q_doc_enrich(spark, DEFAULT_SF)


# ---------------------------------------------------------------- queries


def _q_pricing_summary(spark, sf):
    # A4/A6-style aggregation push-down showcase (TPC-H Q1 shape)
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def _q_argmin_join(spark, sf):
    # J4/W2: earliest order per customer (Postgres DISTINCT ON ≡ rank-1
    # window ≡ min_by over the lexicographic (orderdate, orderkey) struct —
    # orderkey is unique, so the minimum is the rank-1 row exactly). The
    # min_by form partial-aggregates map-side: the exchange moves one
    # candidate per (customer, map partition) instead of every order
    # through a sort (r07, guide §2.3 "aggregate before you shuffle";
    # measured 1.45 -> 0.61 s at sf1.0).
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.min_by(
                F.struct("o_orderkey", "o_orderdate"),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("w")
        )
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            F.col("w.o_orderkey").cast("long").alias("first_orderkey"),
            F.col("w.o_orderdate").alias("first_orderdate"),
        )
    )


def _q_anti_join(spark, sf):
    # J1-J3: incremental work discovery — rows with no output yet
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").cast("long").alias("custkey"), F.col("c_name").alias("name")
    )


def _q_semi_join(spark, sf):
    # J5/J7: customers having at least one open order
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where("o_orderstatus = 'O'")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").cast("long").alias("custkey"), F.col("c_mktsegment").alias("mktsegment")
    )


def _q_keep_last(spark, sf):
    # W3: keep-last dedup — latest event per user
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        )
    )


def _q_window_max(spark, sf):
    # W1: latest-version rows per key (max-over-partition filter)
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("max_ship", F.max("l_shipdate").over(w))
        .where(F.col("l_shipdate") == F.col("max_ship"))
        .select(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.col("l_linenumber").cast("long").alias("linenumber"),
            F.col("l_shipdate").alias("shipdate"),
        )
    )


def _q_group_concat(spark, sf):
    # A1: ordered group-concat (note-line reassembly pattern, edw.py:120-123)
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
                    ),
                    lambda s: s["event_type"],
                ),
                ",",
            ).alias("timeline")
        )
    )


def _q_pivot(spark, sf):
    # A3: boolean/count matrix via conditional aggregation
    e = _t(spark, sf, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    return e.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(*aggs)


def _q_time_window(spark, sf):
    # F4: the 24-hour window predicate (epoch arithmetic, db.py:258-270)
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id")
    return (
        e.withColumn("first_ts", F.min("ts").over(w))
        .where(F.unix_timestamp("ts") - F.unix_timestamp("first_ts") < 86400)
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(F.count("*").cast("long").alias("n_events_24h"))
    )


def _q_topk(spark, sf):
    # O2/O4: top-k by aggregate
    o = _t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
        .limit(10)
        .select(F.col("o_custkey").cast("long").alias("custkey"), "revenue")
    )


def _q_star_join(spark, sf):
    # J8/J9: star-schema join with broadcast dims
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def _q_distinct(spark, sf):
    # A5: distinct-scan + counts
    e = _t(spark, sf, "events")
    return e.groupBy(F.col("event_type").alias("event_type")).agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def _q_intersect(spark, sf):
    # J6: id-set intersection via double semi-join
    e = _t(spark, sf, "events")
    buyers = e.where("event_type = 'purchase'").select("user_id").distinct()
    erring = e.where("event_type = 'error'").select("user_id").distinct()
    return buyers.join(erring, "user_id", "left_semi").select(
        F.col("user_id").cast("long").alias("user_id")
    )


def _q_token_stats(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.token_count("text").cast("long").alias("n_tokens"),
        textstats.char_count("text").cast("long").alias("n_chars"),
        F.round(textstats.avg_token_len("text"), 4).alias("avg_token_len"),
        F.round(textstats.punct_ratio("text"), 4).alias("punct_ratio"),
    )


def _q_lang_guess(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.lang_guess("text").alias("lang_pred"),
    )


def _q_quality(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round(textstats.quality_score("text"), 4).alias("quality"),
    )


def _q_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.fingerprint("text").alias("fp"),
    )


def _q_exact_dups(spark, sf):
    d = _t(spark, sf, "documents")
    groups = dedup.exact_duplicate_groups(d, "doc_id", "text")
    return groups.select("fp", F.explode("doc_ids").alias("doc_id")).select(
        "fp", F.col("doc_id").cast("long").alias("doc_id")
    )


_JACCARD_MAX_SHINGLE_DF = 1000  # hot-shingle cap — mirrored in _JACCARD_SQL


def _q_jaccard_pairs(spark, sf):
    d = _t(spark, sf, "documents")
    # the cap keeps the inverted-index self-join linear in corpus size even
    # when a stopword shingle appears in a large fraction of documents; the
    # oracle applies the identical document-frequency filter
    pairs = dedup.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=_JACCARD_MAX_SHINGLE_DF
    )
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def _q_dedup_keep_best(spark, sf):
    """End-to-end dedup keep-one policy: near-dup pairs -> connected-
    component clusters -> keep the max-quality member (doc id tie-break)."""
    d = _t(spark, sf, "documents")
    pairs = dedup.jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=_JACCARD_MAX_SHINGLE_DF
    ).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
    )
    quality = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.quality_score("text").alias("quality"),
    )
    out = dedup.dedup_keep_best(pairs, quality)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        "is_kept",
    )


def _q_stratified_sample(spark, sf):
    """Deterministic training-mix sampling: per-language keep rates decided
    by a portable hash of the doc id — shuffle-free, reproducible, and
    engine-independent (the DuckDB oracle reproduces the exact sample)."""
    from llacie_spark.operators.sampling import stratified_sample

    d = _t(spark, sf, "documents")
    out = stratified_sample(
        d,
        textstats.lang_guess("text"),
        # 0.3 is deliberately NOT binary-exact: 0.3*10000 = 2999.999... in
        # doubles. The operator rounds before casting (ADVICE r2), so the
        # threshold is 3000 on both engines — this query is the regression
        # pin for that fix.
        rates={"en": 0.3, "und": 0.125},
        default_rate=0.25,
        id_col="doc_id",
        salt="mix-v1",
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "stratum")


def _q_minhash_dedup(spark, sf):
    d = _t(spark, sf, "documents")
    pairs = dedup.minhash_dedup_pairs(d, "doc_id", "text", n=3, threshold=0.8)
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def _q_simhash_pairs(spark, sf):
    # portable 60-bit variant (md5-derived token hashes) so the DuckDB oracle
    # can recompute the exact signatures and brute-force the ground truth;
    # the xxhash64 64-bit default stays the cheap pure-Spark scale path
    d = _t(spark, sf, "documents")
    pairs = dedup.simhash_pairs(
        d, "doc_id", "text", max_hamming=3, bits=60, token_hash=portable_hash60
    )
    return pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _q_knn_bruteforce(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.where("vec_id < 10")
    out = similarity.brute_force_topk(queries, emb, k=10)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


def _q_ivf_fullprobe(spark, sf):
    """IVF index at full probe (n_probe == n_centroids): every cell is
    probed, so the index must return EXACTLY the brute-force top-k — the
    oracle is the same exact-kNN SQL as ``knn_bruteforce``, making the whole
    IVF plan (driver-sample k-means training, distributed vectorized-UDF
    assignment, probe-cell equi-join, exact-cosine re-rank, rank window)
    hash-verified end-to-end. Recall at partial probe is measured separately
    (COVERAGE.md recall table; scripts/ann_recall.py)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.where("vec_id < 10")
    out = similarity.ivf_topk(
        queries, emb, k=10, n_centroids=16, n_probe=16,
        dim=_embedding_dim(spark, sf),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


def _q_ivf_pq(spark, sf):
    """IVF-PQ (train → PQ-encode → ADC candidate scan → exact re-rank) at
    full probe with ``refine=None``: the asymmetric-distance pass executes
    over every candidate's codes but cannot drop anyone, so the exact
    re-rank must return EXACTLY the brute-force top-k — the whole IVF-PQ
    plan (per-block codebook training on a driver sample, distributed
    vectorized encoding, probe-cell equi-join, code-only ADC scoring,
    survivor re-join, rank window) hash-verified against the same exact-kNN
    SQL as ``knn_bruteforce``. Partial-probe/finite-refine recall is
    measured separately (scripts/ann_recall.py; COVERAGE.md)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.where("vec_id < 10")
    out = similarity.ivf_pq_topk(
        queries, emb, k=10, n_centroids=16, n_probe=16, m=8, n_codes=16,
        refine=None, dim=_embedding_dim(spark, sf),
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
        F.round("cos", 4).alias("cos"),
    )


def _q_embed_neardup(spark, sf):
    """Embedding near-duplicate pairs through the LSH-bucketed self-join.

    The sf embeddings are quasi-random (no real near-dups), so the query
    PLANTS them deterministically: each vec_id < 50 gets a clone at
    vec_id+100000 (identical vector => cosine exactly 1.0 => identical
    hyperplane signs => same LSH bucket, so the banded path finds every
    planted pair by construction, making a brute-force SQL oracle exact).
    Verifies bucketing, the per-bucket self-join, and the cosine threshold
    end-to-end with a hash check."""
    emb = _t(spark, sf, "embeddings")
    clones = emb.where("vec_id < 50").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(clones)
    dim = _embedding_dim(spark, sf)
    out = similarity.embedding_cosine_pairs(corpus, threshold=0.9999, dim=dim)
    return out.select(
        F.col("vec_a").cast("long").alias("vec_a"),
        F.col("vec_b").cast("long").alias("vec_b"),
        F.round("cos", 4).alias("cos"),
    )


def _q_embed_stats(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return (
        emb.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg(similarity.norm(F.col("embedding"))), 4).alias("avg_norm"),
        )
    )


def _q_doc_enrich(spark, sf):
    # flagship: enrichment = stats + quality + language + dedup fingerprint
    d = _t(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        textstats.token_count("text").cast("long").alias("n_tokens"),
        F.round(textstats.quality_score("text"), 4).alias("quality"),
        textstats.lang_guess("text").alias("lang_pred"),
        textstats.fingerprint("text").alias("fp"),
    )


def _q_kg_triples(spark, sf):
    """The clinical KG pipeline end-to-end on the bundled 100-note corpus
    (oracle: the committed golden triples fixture — full hash check)."""
    from llacie_spark.corpus import reference_doc_meta, reference_documents
    from llacie_spark.pipeline import run_pipeline
    from llacie_spark.vocab import Vocab

    vocab = Vocab.from_csv(str(REPO / "fixtures/vocab_pres_sx_v2.csv"))
    docs = reference_documents(spark, str(REPO / "fixtures/admission-100.txt"))
    meta = reference_doc_meta(spark)
    return run_pipeline(docs, meta, vocab).select(
        "episode_id", "doc_id", "pred", "label_name", "line_number"
    )




def _q_json_extract(spark, sf):
    # X5: JSON parsing of semi-structured payloads
    e = _t(spark, sf, "events")
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def _q_supplier_parts(spark, sf):
    # fact-to-dims join on two keys + aggregate
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    s = _t(spark, sf, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"), F.col("p_brand").alias("brand"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


def _q_union_entities(spark, sf):
    # set op: union of two entity tables into one dimension
    c = _t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind"),
        F.round(F.col("c_acctbal"), 4).alias("acctbal"),
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind"),
        F.round(F.col("s_acctbal"), 4).alias("acctbal"),
    )
    return c.unionByName(s)


def _q_rollup_revenue(spark, sf):
    # grouping sets: region/nation rollup with grand total
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))


def _q_kg_relational(spark, sf):
    """KG pipeline with the relational (salted candidate-join) linker —
    the huge-dictionary scale path (oracle: golden triples, full hash
    check — row-equal to the UDF linker by construction)."""
    from llacie_spark.corpus import assemble_text, reference_documents
    from llacie_spark.operators.linking import link_mentions_relational
    from llacie_spark.pipeline import fused_extract
    from llacie_spark.vocab import Vocab

    vocab = Vocab.from_csv(str(REPO / "fixtures/vocab_pres_sx_v2.csv"))
    docs = reference_documents(spark, str(REPO / "fixtures/admission-100.txt"))
    mentions = fused_extract(assemble_text(docs), vocab).select("doc_id", "mentions")
    concepts = spark.createDataFrame(vocab.to_rows())
    return link_mentions_relational(mentions, concepts, salt_buckets=4)


def _q_kg_linking(spark, sf):
    """The linking stage ALONE over the committed golden mentions
    (fixtures/golden/mentions.parquet): greedy longest-n-gram-first matching
    with earliest-line-wins. The oracle re-derives the labels INDEPENDENTLY
    in DuckDB — a recursive-CTE greedy scan over the raw vocab CSV — so this
    stage is no longer certified by the repo's own golden triples (VERDICT
    r2 #7); only the Python regex sectioner + scorer remain golden-pinned.

    The linker is the one ``fused_extract`` runs per row (``Vocab.find_terms``
    over the newline-joined mentions), applied here on the driver to the 100
    committed rows."""
    from llacie_spark.vocab import Vocab

    vocab = Vocab.from_csv(str(REPO / "fixtures/vocab_pres_sx_v2.csv"))
    rows = [
        (r.doc_id, term, line)
        for r in spark.read.parquet(str(_GOLDEN / "mentions.parquet")).collect()
        if r.mentions
        for term, line in vocab.find_terms("\n".join(r.mentions)).items()
    ]
    return spark.createDataFrame(rows, "doc_id string, label_name string, line_number long")


def _q_kg_canonical(spark, sf):
    """Triples with connected-components canonicalization applied
    (north-rule stage 3; oracle: independent recursive-CTE connected
    components over the synonym edges — full hash check)."""
    from llacie_spark.operators.graph import canonical_map, canonicalize_triples
    from llacie_spark.schemas import CONCEPTS
    from llacie_spark.vocab import Vocab
    import csv as _csv

    with open(REPO / "fixtures/vocab_pres_sx_v2.csv", newline="") as f:
        rows = [
            (r["ngram"], int(r["n"]), int(r["count"] or 0), r["canonical_name"],
             r["combo_symptom"] or None, r["synonym_of"] or None)
            for r in _csv.DictReader(f)
        ]
    concepts = spark.createDataFrame(rows, CONCEPTS)
    triples = _q_kg_triples(spark, sf)
    return canonicalize_triples(triples, canonical_map(concepts)).select(
        "episode_id", "pred", "label_name", "label_canonical", "line_number"
    )


def _q_media_features(spark, sf):
    """Multimodal plumbing: media spans -> decoded feature rows (oracle:
    FakeDecoder arithmetic recomputed in SQL — full hash check)."""
    from llacie_spark.corpus import reference_documents
    from llacie_spark.operators.multimodal import extract_media_features, synthetic_media

    docs = reference_documents(spark, str(REPO / "fixtures/admission-100.txt"))
    return extract_media_features(synthetic_media(spark, docs))




def _q_sessionize(spark, sf):
    # gaps-and-islands sessionization: lag window + running sum of breaks
    e = _t(spark, sf, "events")
    w_user = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gapped = e.withColumn(
        "new_session",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w_user)),
                F.lit(10**9),
            )
            > 1800
        ).cast("int"),
    )
    sessioned = gapped.withColumn(
        "session_no",
        F.sum("new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_no").cast("long").alias("session_no"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_s"),
    )




def _q_asof_join(spark, sf):
    # as-of join: each purchase paired with the user's most recent prior view
    from llacie_spark.operators.asof import asof_join

    e = _t(spark, sf, "events")
    purchases = e.where("event_type = 'purchase'").select("event_id", "user_id", "ts")
    views = e.where("event_type = 'view'").select("user_id", "ts", "value")
    out = asof_join(purchases, views, on="user_id")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.round("asof_value", 4).alias("asof_value"),
        F.col("asof_ts"),
    )




def _q_percentiles(spark, sf):
    # exact interpolated percentiles + moments per group
    e = _t(spark, sf, "events")
    return e.groupBy(F.col("event_type").alias("event_type")).agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.avg("value"), 4).alias("mean"),
        F.round(F.stddev_samp("value"), 4).alias("sd"),
    )


def _q_correlation(spark, sf):
    # corr/covar between line-item price and quantity per return flag
    li = _t(spark, sf, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.count("*").cast("long").alias("n"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": _q_pricing_summary,
        "argmin_join": _q_argmin_join,
        "anti_join": _q_anti_join,
        "semi_join": _q_semi_join,
        "keep_last": _q_keep_last,
        "window_max": _q_window_max,
        "group_concat": _q_group_concat,
        "pivot": _q_pivot,
        "time_window": _q_time_window,
        "topk": _q_topk,
        "star_join": _q_star_join,
        "distinct_counts": _q_distinct,
        "intersect": _q_intersect,
        "token_stats": _q_token_stats,
        "lang_guess": _q_lang_guess,
        "quality_score": _q_quality,
        "fingerprint": _q_fingerprint,
        "exact_dups": _q_exact_dups,
        "jaccard_pairs": _q_jaccard_pairs,
        "minhash_dedup": _q_minhash_dedup,
        "dedup_keep_best": _q_dedup_keep_best,
        "stratified_sample": _q_stratified_sample,
        "simhash_pairs": _q_simhash_pairs,
        "knn_bruteforce": _q_knn_bruteforce,
        "ivf_fullprobe": _q_ivf_fullprobe,
        "ivf_pq": _q_ivf_pq,
        "embed_neardup": _q_embed_neardup,
        "embed_stats": _q_embed_stats,
        "doc_enrich": _q_doc_enrich,
        "kg_triples": _q_kg_triples,
        "json_extract": _q_json_extract,
        "sessionize": _q_sessionize,
        "asof_join": _q_asof_join,
        "percentiles": _q_percentiles,
        "correlation": _q_correlation,
        "supplier_parts": _q_supplier_parts,
        "union_entities": _q_union_entities,
        "rollup_revenue": _q_rollup_revenue,
        "kg_relational": _q_kg_relational,
        "kg_linking": _q_kg_linking,
        "kg_canonical": _q_kg_canonical,
        "media_features": _q_media_features,
        "png_features": _q_png_features,
        "frame_features": _q_frame_features,
    }


# ---------------------------------------------------------------- oracles

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

_SHINGLES_CTE = f"""
docs as (select doc_id, string_split({_NORM}, ' ') as toks from documents),
eligible as (select doc_id, toks from docs where len(toks) >= 3),
idx as (select doc_id, toks, unnest(generate_series(1, len(toks)-2)) as i from eligible),
sh as (select distinct doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] as shingle from idx),
sizes as (select doc_id, count(*) as sz from sh group by doc_id)
"""

def _jaccard_sql(max_shingle_df: int | None) -> str:
    """Exact shingle-Jaccard ground truth; the optional hot-shingle cap
    mirrors dedup.jaccard_pairs(max_shingle_df=...) exactly (sizes are
    computed on the *capped* shingle set, as in _pair_jaccard)."""
    cap = ""
    if max_shingle_df is not None:
        cap = f""",
hot as (select shingle from sh group by shingle having count(*) > {max_shingle_df}),
sh2 as (select * from sh anti join hot using (shingle))"""
    src = "sh2" if max_shingle_df is not None else "sh"
    return f"""
with {_SHINGLES_CTE}{cap},
sizes2 as (select doc_id, count(*) as sz from {src} group by doc_id),
common as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as c
  from {src} a join {src} b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2)
select cast(doc_a as bigint) as doc_a, cast(doc_b as bigint) as doc_b,
       round(c * 1.0 / (sa.sz + sb.sz - c), 4) as jaccard
from common
join sizes2 sa on common.doc_a = sa.doc_id
join sizes2 sb on common.doc_b = sb.doc_id
where c * 1.0 / (sa.sz + sb.sz - c) >= 0.8
"""

def _dedup_keep_best_sql(max_shingle_df: int) -> str:
    """Independent re-derivation: jaccard pairs (same capped ground truth) ->
    recursive-CTE connected components -> max-quality keeper per cluster
    with the doc-id tie-break (mirrors dedup.dedup_keep_best)."""
    return f"""
with recursive
pairs as ({_jaccard_sql(max_shingle_df)}),
sym as (select doc_a as a, doc_b as b from pairs
        union select doc_b, doc_a from pairs),
reach(node, r) as (
  select a, a from sym
  union
  select reach.node, sym.b from reach join sym on reach.r = sym.a),
comp as (select node, min(r) as component from reach group by node),
q as (select cast(doc_id as bigint) as node, {_QUALITY_EXPR} as q from documents),
ranked as (
  select comp.node, comp.component, q.q,
         row_number() over (partition by comp.component
                            order by q.q desc, comp.node asc) as rn
  from comp join q using (node)),
keep as (select component, node as keep_doc_id from ranked where rn = 1)
select cast(ranked.node as bigint) as doc_id,
       cast(ranked.component as bigint) as cluster,
       cast(keep.keep_doc_id as bigint) as keep_doc_id,
       ranked.node = keep.keep_doc_id as is_kept
from ranked join keep using (component)
"""


def _stratified_sample_sql() -> str:
    h = portable_hash60_sql("cast(doc_id as varchar)", salt="mix-v1")
    lang = _lang_case_sql()
    return f"""
with s as (select cast(doc_id as bigint) as doc_id, {lang} as stratum,
                  {h} % 10000 as bucket
           from documents)
select doc_id, stratum from s
where bucket < case stratum when 'en' then 3000 when 'und' then 1250 else 2500 end
"""


_LANG_MARKERS_SQL = {
    lang: "list_value(" + ", ".join(f"'{w}'" for w in ws) + ")"
    for lang, ws in textstats.LANG_MARKERS.items()
    if ws
}


def _lang_case_sql() -> str:
    toks = "string_split(trim(text), ' ')"  # matches F.split(trim, '\\s+') on single-spaced text
    hits = {
        lang: f"len(list_filter({toks}, t -> list_contains({lst}, t)))"
        for lang, lst in _LANG_MARKERS_SQL.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "".join(
        f" when {best} > 0 and {hits[lang]} = {best} then '{lang}'"
        for lang in ["en", "de", "es", "fr"]
    )
    return f"case when regexp_matches(text, '[一-鿿]') then 'zh'{whens} else 'und' end"


def _lang_guess_sql() -> str:
    return (
        "select cast(doc_id as bigint) as doc_id, "
        f"{_lang_case_sql()} as lang_pred from documents"
    )


_QUALITY_EXPR = (
    "(cast(case when length(text) between 64 and 100000 then 0.4 else 0.0 end as double)"
    " + cast(case when length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0"
    "   / greatest(length(text), 1) <= 0.2 then 0.3 else 0.0 end as double)"
    " + cast(case when len(list_filter(string_split(trim(text), ' '),"
    "   t -> list_contains(list_value('the','and','of','is','to'), t))) * 1.0"
    "   / greatest(len(string_split(trim(text), ' ')), 1) >= 0.01 then 0.3 else 0.0 end as double))"
)


def _knn_sql(approx: bool = False) -> str:
    cos = (
        "list_dot_product(q.embedding, c.embedding) / "
        "(sqrt(list_dot_product(q.embedding, q.embedding)) * "
        "sqrt(list_dot_product(c.embedding, c.embedding)))"
    )
    return f"""
with scored as (
  select q.vec_id as query_id, c.vec_id as neighbor_id, {cos} as cos
  from embeddings q, embeddings c
  where q.vec_id < 10 and q.vec_id != c.vec_id),
ranked as (
  select query_id, neighbor_id, cos,
         row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored)
select cast(query_id as bigint) as query_id, cast(neighbor_id as bigint) as neighbor_id,
       cast(rank as bigint) as rank, round(cos, 4) as cos
from ranked where rank <= 10
"""


_GOLDEN = REPO / "fixtures" / "golden"
_VOCAB_CSV = REPO / "fixtures" / "vocab_pres_sx_v2.csv"


def _simhash_sql(bits: int = 60, max_hamming: int = 3) -> str:
    """Brute-force simhash ground truth: recompute every 60-bit signature
    from the portable md5-derived token hashes, then exact Hamming over ALL
    pairs (no banding) — verifying the Spark side's pigeonhole candidate
    generation end-to-end."""
    tok_hash = portable_hash60_sql("tok")
    bit_sums = ", ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) as b{b}" for b in range(bits)
    )
    sig = " + ".join(f"(case when b{b} > 0 then (1::bigint << {b}) else 0::bigint end)" for b in range(bits))
    return f"""
with docs as (select doc_id, {_NORM} as norm from documents),
toks as (select doc_id, unnest(string_split(norm, ' ')) as tok from docs),
hashed as (select doc_id, {tok_hash} as h from toks where tok != ''),
bitsums as (select doc_id, {bit_sums} from hashed group by doc_id),
sigs as (select doc_id, {sig} as sig from bitsums)
select cast(a.doc_id as bigint) as doc_a, cast(b.doc_id as bigint) as doc_b,
       cast(bit_count(xor(a.sig, b.sig)) as bigint) as hamming
from sigs a join sigs b on a.doc_id < b.doc_id
where bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def _q_png_features(spark, sf):
    """REAL image decode through the Spark plumbing: payloads are actual PNG
    bytes (encoded distributed, dims a pure function of the ref hash), and
    PngDecoder — stdlib zlib + scanline filter reconstruction, no PIL —
    recovers width/height from the pixels. The oracle predicts the expected
    dimensions from the same hash rule WITHOUT decoding, so a decoder that
    returns wrong dims (or sniffs instead of decodes) hash-mismatches."""
    from llacie_spark.corpus import reference_documents
    from llacie_spark.operators.multimodal import (
        PngDecoder,
        extract_media_features,
        synthetic_png_media,
    )

    docs = reference_documents(spark, str(REPO / "fixtures/admission-100.txt"))
    media = synthetic_png_media(spark, docs)
    return extract_media_features(media, decoder=PngDecoder()).select(
        "doc_id", "media_ref", "width", "height"
    )


def _q_frame_features(spark, sf):
    """Video frame sampling end-to-end: demux the framestack container by
    its length prefixes, uniform-sample 3 frames, decode each sampled frame
    (stdlib PNG). The oracle predicts frame count, sampled indices, and
    dims from the ref-hash generation rule — a wrong demux offset, sample
    rule, or decode shows up as a hash mismatch."""
    from llacie_spark.corpus import reference_documents
    from llacie_spark.operators.multimodal import sample_frames, synthetic_video_media

    docs = reference_documents(spark, str(REPO / "fixtures/admission-100.txt"))
    return sample_frames(synthetic_video_media(spark, docs), k=3).select(
        "doc_id", "media_ref", "frame_idx", "n_frames", "width", "height"
    )


def _frame_features_sql() -> str:
    h = portable_hash60_sql("s.media_ref")
    return f"""
with docs as (select doc_id, unnest(spans) as s from read_parquet('{_GOLDEN}/reference_docs.parquet')),
vids as (
  select doc_id, s.media_ref as media_ref,
         cast(2 + ({h} // 256) % 6 as int) as n_frames,
         cast(4 + {h} % 9 as int) as width,
         cast(4 + ({h} // 16) % 7 as int) as height
  from docs
  where s.kind = 'media' and {h} % 3 = 2
)
select distinct doc_id, media_ref,
       cast((t.i * n_frames) // 3 as int) as frame_idx,
       n_frames, width, height
from vids cross join range(3) t(i)
"""


def _png_features_sql() -> str:
    """Expected PNG dimensions re-derived from the generation rule (portable
    hash of the ref) — the SQL can't decode PNG, it doesn't have to: the
    Spark side must RECOVER these numbers from real compressed pixels."""
    h = portable_hash60_sql("s.media_ref")
    return f"""
with docs as (select doc_id, unnest(spans) as s from read_parquet('{_GOLDEN}/reference_docs.parquet')),
media as (select doc_id, s.media_ref as media_ref, {h} as h from docs where s.kind = 'media')
select doc_id, media_ref,
       cast(4 + h % 13 as int) as width,
       cast(4 + (h // 16) % 11 as int) as height
from media
"""


def _media_features_sql() -> str:
    """Independent re-computation of synthetic_media + FakeDecoder in SQL
    over the committed golden interleaved-documents parquet (the corpus parse
    is Python; everything downstream — media typing, payload synthesis,
    digest, fake decode arithmetic — is recomputed here from scratch)."""
    mt_hash = portable_hash60_sql("s.media_ref")
    seed = (
        "list_reduce(list_transform(range(1, 9), i -> "
        "strpos('0123456789abcdef', substr(content_sha256, i::int, 1)) - 1), "
        "(a, b) -> a * 16 + b)"
    )
    return f"""
with docs as (select doc_id, unnest(spans) as s from read_parquet('{_GOLDEN}/reference_docs.parquet')),
media as (
  select doc_id, s.media_ref as media_ref, {mt_hash} % 3 as mt,
         repeat(sha256(s.media_ref), 8) as payload
  from docs where s.kind = 'media'),
feat as (
  select doc_id, media_ref,
         case mt when 0 then 'image' when 1 then 'audio' else 'video' end as media_type,
         cast(length(payload) as bigint) as n_bytes,
         sha256(payload) as content_sha256
  from media),
seeded as (select *, {seed} as seed from feat)
select doc_id, media_ref, media_type, n_bytes, content_sha256,
       case when media_type = 'image' then cast(64 + seed % 1920 as int) end as width,
       case when media_type = 'image' then cast(64 + (seed >> 8) % 1080 as int) end as height,
       case when media_type != 'image' then round(0.5 + (seed % 6000) / 10.0, 1) end as duration_s,
       'fake-deterministic' as decoder
from seeded
"""


def _kg_triples_sql() -> str:
    """Golden-fixture oracle: the committed expected-triples parquet
    (generated by scripts/make_golden.py from the gold-gated pipeline,
    P=0.98/R=0.99 vs the reference's annotations — see tests/test_gold_gate)
    pins the exact extraction output against regressions."""
    return f"""
select episode_id, doc_id, pred, label_name, line_number
from read_parquet('{_GOLDEN}/kg_triples.parquet')
"""


def _kg_relational_sql() -> str:
    """Cross-implementation check made driver-visible: the relational
    (salted candidate-join) linker must reproduce, row for row, the golden
    triples emitted by the UDF greedy-matcher pipeline."""
    return f"""
select doc_id, label_name, line_number
from read_parquet('{_GOLDEN}/kg_triples.parquet')
"""


def _kg_linking_sql() -> str:
    """INDEPENDENT re-derivation of the linking stage (no golden triples
    involved): DuckDB walks each mention line with a recursive CTE that
    reproduces the reference matcher's greedy longest-n-gram-first scan
    (llacie/vocab.py:100-121) — at each token position try the 3-gram, then
    2-gram, then 1-gram against the raw vocab CSV; a hit consumes its n
    tokens and emits canonical_name (+ combo_symptom when set); a miss
    advances one token; earliest line wins per (doc, label)."""
    vocab_csv = REPO / "fixtures" / "vocab_pres_sx_v2.csv"
    return f"""
with recursive
v as (
  select ngram, cast(n as int) as n, canonical_name,
         nullif(trim(combo_symptom), '') as combo
  from read_csv('{vocab_csv}', header=true, all_varchar=true)
),
g3 as (select distinct ngram from v where n = 3),
g2 as (select distinct ngram from v where n = 2),
g1 as (select distinct ngram from v where n = 1),
lines as (
  select doc_id,
         cast(generate_subscripts(mentions, 1) as int) as line_number,
         string_split_regex(trim(regexp_replace(lower(unnest(mentions)), '[^a-z0-9]+', ' ', 'g')), '\\s+') as toks
  from read_parquet('{_GOLDEN}/mentions.parquet')
),
scan(doc_id, line_number, toks, pos, hit_n, hit_gram) as (
  select doc_id, line_number, toks, 1, cast(null as int), cast(null as varchar) from lines
  union all
  select s.doc_id, s.line_number, s.toks,
         s.pos + coalesce(case when h3.ngram is not null then 3
                               when h2.ngram is not null then 2
                               when h1.ngram is not null then 1 end, 1),
         case when h3.ngram is not null then 3
              when h2.ngram is not null then 2
              when h1.ngram is not null then 1 end,
         coalesce(h3.ngram, h2.ngram, h1.ngram)
  from scan s
  left join g3 h3 on s.pos + 2 <= len(s.toks)
                 and array_to_string(s.toks[s.pos:s.pos+2], ' ') = h3.ngram
  left join g2 h2 on s.pos + 1 <= len(s.toks)
                 and array_to_string(s.toks[s.pos:s.pos+1], ' ') = h2.ngram
  left join g1 h1 on s.toks[s.pos] = h1.ngram
  where s.pos <= len(s.toks)
),
hits as (
  select doc_id, line_number, hit_gram as ngram, hit_n as n
  from scan where hit_n is not null
),
terms as (
  select ngram, n, canonical_name as term from v
  union all
  select ngram, n, combo as term from v where combo is not null
)
select h.doc_id, t.term as label_name,
       cast(min(h.line_number) as bigint) as line_number
from hits h join terms t using (ngram, n)
group by 1, 2
"""


def _kg_canonical_sql() -> str:
    """Independent canonicalization oracle: DuckDB recursive CTE computes
    the connected components of the vocab synonym graph from the raw CSV
    (transitive closure -> min-member representative among canonical names),
    mirroring operators/graph.py:canonical_map; applied to the golden
    triples."""
    return f"""
with recursive
conc as (select * from read_csv('{_VOCAB_CSV}', header = true)),
e0 as (
  select ngram as src, canonical_name as dst from conc
  union
  select synonym_of, canonical_name from conc
  where synonym_of is not null and synonym_of != ''),
sym as (select src as a, dst as b from e0 union select dst as a, src as b from e0),
reach(node, r) as (
  select a, a from sym
  union
  select reach.node, sym.b from reach join sym on reach.r = sym.a),
comp as (select node, min(r) as component from reach group by node),
canonicals as (select distinct canonical_name as node from conc),
rep as (select component, min(comp.node) as canonical_id
        from comp join canonicals using (node) group by component),
mapping as (select comp.node as surface, rep.canonical_id
            from comp join rep using (component))
select t.episode_id, t.pred, t.label_name,
       coalesce(m.canonical_id, t.label_name) as label_canonical, t.line_number
from read_parquet('{_GOLDEN}/kg_triples.parquet') t
left join mapping m on t.label_name = m.surface
"""


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) as sum_qty,
                   round(sum(l_extendedprice), 4) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) as sum_disc_price,
                   round(avg(l_discount), 4) as avg_disc,
                   cast(count(*) as bigint) as count_order
            from lineitem where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """,
        "argmin_join": """
            select cast(o_custkey as bigint) as custkey,
                   cast(o_orderkey as bigint) as first_orderkey,
                   o_orderdate as first_orderdate
            from (select *, row_number() over (partition by o_custkey
                    order by o_orderdate asc, o_orderkey asc) as rn from orders)
            where rn = 1
        """,
        "anti_join": """
            select cast(c_custkey as bigint) as custkey, c_name as name
            from customer where c_custkey not in (select o_custkey from orders)
        """,
        "semi_join": """
            select cast(c_custkey as bigint) as custkey, c_mktsegment as mktsegment
            from customer where c_custkey in
              (select o_custkey from orders where o_orderstatus = 'O')
        """,
        "keep_last": """
            select cast(user_id as bigint) as user_id,
                   cast(event_id as bigint) as last_event_id,
                   event_type as last_event_type
            from (select *, row_number() over (partition by user_id
                    order by ts desc, event_id desc) as rn from events)
            where rn = 1
        """,
        "window_max": """
            select cast(l_orderkey as bigint) as orderkey,
                   cast(l_linenumber as bigint) as linenumber,
                   l_shipdate as shipdate
            from (select *, max(l_shipdate) over (partition by l_orderkey) as mx from lineitem)
            where l_shipdate = mx
        """,
        "group_concat": """
            select cast(user_id as bigint) as user_id,
                   string_agg(event_type, ',' order by ts, event_id) as timeline
            from events group by user_id
        """,
        "pivot": """
            select cast(user_id as bigint) as user_id,
                   cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as n_click,
                   cast(sum(case when event_type = 'view' then 1 else 0 end) as bigint) as n_view,
                   cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as n_purchase,
                   cast(sum(case when event_type = 'signup' then 1 else 0 end) as bigint) as n_signup,
                   cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as n_error
            from events group by user_id
        """,
        "time_window": """
            select cast(user_id as bigint) as user_id,
                   cast(count(*) as bigint) as n_events_24h
            from (select *, min(ts) over (partition by user_id) as first_ts from events)
            -- floor() mirrors Spark unix_timestamp's second truncation on
            -- microsecond timestamps (un-floored epoch() can diverge when a
            -- true delta straddles the 86400 s boundary)
            where floor(epoch(ts)) - floor(epoch(first_ts)) < 86400
            group by user_id
        """,
        "topk": """
            select cast(o_custkey as bigint) as custkey,
                   round(sum(o_totalprice), 4) as revenue
            from orders group by o_custkey
            order by revenue desc, custkey asc limit 10
        """,
        "star_join": """
            select r_name as region, n_name as nation,
                   round(sum(o_totalprice), 4) as revenue,
                   cast(count(*) as bigint) as n_orders
            from orders
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by r_name, n_name
        """,
        "distinct_counts": """
            select event_type, cast(count(*) as bigint) as n,
                   cast(count(distinct user_id) as bigint) as n_users
            from events group by event_type
        """,
        "intersect": """
            select cast(user_id as bigint) as user_id from events where event_type = 'purchase'
            intersect
            select cast(user_id as bigint) as user_id from events where event_type = 'error'
        """,
        "token_stats": """
            select cast(doc_id as bigint) as doc_id,
                   cast(len(string_split(trim(text), ' ')) as bigint) as n_tokens,
                   cast(length(text) as bigint) as n_chars,
                   round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
                         / len(string_split(trim(text), ' ')), 4) as avg_token_len,
                   round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
                         / greatest(length(text), 1), 4) as punct_ratio
            from documents
        """,
        "lang_guess": _lang_guess_sql(),
        "quality_score": f"""
            select cast(doc_id as bigint) as doc_id, round({_QUALITY_EXPR}, 4) as quality
            from documents
        """,
        "fingerprint": f"""
            select cast(doc_id as bigint) as doc_id, md5({_NORM}) as fp from documents
        """,
        "exact_dups": f"""
            with fps as (select doc_id, md5({_NORM}) as fp from documents),
            dups as (select fp from fps group by fp having count(*) > 1)
            select fps.fp as fp, cast(doc_id as bigint) as doc_id
            from fps join dups on fps.fp = dups.fp
        """,
        "jaccard_pairs": _jaccard_sql(_JACCARD_MAX_SHINGLE_DF),
        "dedup_keep_best": _dedup_keep_best_sql(_JACCARD_MAX_SHINGLE_DF),
        "stratified_sample": _stratified_sample_sql(),
        "minhash_dedup": _jaccard_sql(None),  # LSH+verify must equal exact at this scale
        "knn_bruteforce": _knn_sql(),
        # full probe == exact: the brute-force SQL IS the IVF oracle
        "ivf_fullprobe": _knn_sql(),
        "ivf_pq": _knn_sql(),
        # brute force over the planted corpus: every pair above the
        # threshold, no LSH anywhere — if Spark's bucketed join missed or
        # invented a pair the hash check fails
        "embed_neardup": """
with corpus as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 100000 as vec_id, embedding from embeddings where vec_id < 50)
select cast(a.vec_id as bigint) as vec_a, cast(b.vec_id as bigint) as vec_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 4) as cos
from corpus a, corpus b
where a.vec_id < b.vec_id
  and list_dot_product(a.embedding, b.embedding) /
      (sqrt(list_dot_product(a.embedding, a.embedding)) *
       sqrt(list_dot_product(b.embedding, b.embedding))) >= 0.9999
        """,
        "embed_stats": """
            select cast(label as bigint) as label, cast(count(*) as bigint) as n,
                   round(avg(sqrt(list_dot_product(embedding, embedding))), 4) as avg_norm
            from embeddings group by label
        """,
        "doc_enrich": f"""
            select cast(doc_id as bigint) as doc_id,
                   cast(len(string_split(trim(text), ' ')) as bigint) as n_tokens,
                   round({_QUALITY_EXPR}, 4) as quality,
                   {_lang_case_sql()} as lang_pred,
                   md5({_NORM}) as fp
            from documents
        """,
        "percentiles": """
            select event_type,
                   round(quantile_cont(value, 0.5), 4) as p50,
                   round(quantile_cont(value, 0.9), 4) as p90,
                   round(avg(value), 4) as mean,
                   round(stddev_samp(value), 4) as sd
            from events group by event_type
        """,
        "correlation": """
            select l_returnflag as returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) as corr_qty_price,
                   round(covar_samp(l_quantity, l_extendedprice), 4) as covar_qty_price,
                   cast(count(*) as bigint) as n
            from lineitem group by l_returnflag
        """,
        "asof_join": """
            with l as (select event_id, user_id, ts from events where event_type = 'purchase'),
            r as (select user_id, ts, value from events where event_type = 'view'),
            u as (
              select user_id, ts, 1 as side, event_id,
                     cast(null as double) as rvalue, cast(null as timestamp) as rts from l
              union all
              select user_id, ts, 0 as side, null, value, ts from r),
            c as (
              select *,
                     last_value(rvalue ignore nulls) over w as asof_value,
                     last_value(rts ignore nulls) over w as asof_ts
              from u
              window w as (partition by user_id order by ts asc, side asc rows unbounded preceding))
            select cast(event_id as bigint) as event_id, cast(user_id as bigint) as user_id,
                   round(asof_value, 4) as asof_value, asof_ts
            from c where side = 1
        """,
        "sessionize": """
            with gapped as (
              select user_id, ts, event_id,
                     case when floor(epoch(ts)) - floor(epoch(lag(ts) over
                          (partition by user_id order by ts asc, event_id asc))) > 1800
                          or lag(ts) over (partition by user_id order by ts asc, event_id asc) is null
                          then 1 else 0 end as new_session
              from events),
            sessioned as (
              select user_id, ts,
                     sum(new_session) over (partition by user_id order by ts asc, event_id asc
                                            rows unbounded preceding) as session_no
              from gapped)
            select cast(user_id as bigint) as user_id,
                   cast(session_no as bigint) as session_no,
                   cast(count(*) as bigint) as n_events,
                   cast(floor(epoch(max(ts))) - floor(epoch(min(ts))) as bigint) as duration_s
            from sessioned group by user_id, session_no
        """,
        "json_extract": """
            select cast(event_id as bigint) as event_id,
                   cast(json_extract(props, '$.k') as bigint) as k
            from events
        """,
        "supplier_parts": """
            select s_name as supplier, p_brand as brand,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue,
                   cast(count(*) as bigint) as n_items
            from lineitem
            join part on l_partkey = p_partkey
            join supplier on l_suppkey = s_suppkey
            group by s_name, p_brand
        """,
        "union_entities": """
            select c_name as name, 'customer' as kind, round(c_acctbal, 4) as acctbal from customer
            union all
            select s_name as name, 'supplier' as kind, round(s_acctbal, 4) as acctbal from supplier
        """,
        "rollup_revenue": """
            select r_name as region, n_name as nation,
                   round(sum(o_totalprice), 4) as revenue
            from orders
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by rollup(r_name, n_name)
        """,
        "simhash_pairs": _simhash_sql(),
        "media_features": _media_features_sql(),
        "png_features": _png_features_sql(),
        "frame_features": _frame_features_sql(),
        "kg_triples": _kg_triples_sql(),
        "kg_relational": _kg_relational_sql(),
        "kg_linking": _kg_linking_sql(),
        "kg_canonical": _kg_canonical_sql(),
    }
