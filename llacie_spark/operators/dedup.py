"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Training-data pipeline staples, all expressed as DataFrame transforms:

- **exact**: group by a content fingerprint (one shuffle on the digest).
- **n-gram Jaccard**: exact similarity join via a shingle inverted index —
  self-join on shingle, count common, filter by threshold. Correct but
  quadratic in per-shingle document frequency; ``max_shingle_df`` caps hot
  shingles (stopword-shingle blowup) at a documented recall cost.
- **MinHash + LSH**: the scale path. Signatures via ``min(xxhash64(shingle
  XOR seed))`` per hash — all JVM-side; banding turns candidate generation
  into an equi-join on (band, band-signature); candidates are then verified
  with the exact Jaccard join restricted to candidate pairs. At 100 TB this
  is the only variant whose shuffle volume is O(docs × bands), not O(pairs).
- **SimHash**: 64-bit signature from token hashes; near-dup = Hamming
  distance <= k, candidates by the pigeonhole band trick (split into k+1
  chunks, at least one chunk equal), verified with bit_count(xor).

Every operator returns unaggregated pair/group DataFrames so callers decide
the keep-one policy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import fingerprint, normalized_text

# Shingle-cache registry. These operators return lazy DataFrames (the caller
# runs the action), so they can't unpersist after the action themselves. The
# registry is keyed by plan semantics: a second call over the SAME corpus
# reuses the already-persisted explosion (jaccard_pairs + minhash_dedup_pairs
# on one df share one cache, and building both lazily before acting on either
# is safe — nothing is evicted out from under a live plan). Distinct corpora
# get their own entries, bounded FIFO at _SHINGLE_CACHE_MAX; eviction only
# happens when a NEW corpus enters a full registry, so the one hazard left is
# holding >_SHINGLE_CACHE_MAX lazy results over distinct corpora at once.
import threading

_SHINGLE_CACHE_MAX = 4
_shingle_cache: list[DataFrame] = []
_shingle_cache_lock = threading.Lock()


def _cache_shingles(sh: DataFrame) -> DataFrame:
    with _shingle_cache_lock:
        for cached in _shingle_cache:
            try:
                same = cached.sameSemantics(sh)
            except Exception:  # session of a cached entry was stopped
                same = False
            if same:
                return cached
        sh = sh.persist()
        _shingle_cache.append(sh)
        while len(_shingle_cache) > _SHINGLE_CACHE_MAX:
            evicted = _shingle_cache.pop(0)
            try:
                evicted.unpersist()
            except Exception:
                pass  # cached under a session that has since been stopped
        return sh


# --------------------------------------------------------------------- exact


def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of documents with identical normalized content:
    (fingerprint, n_docs, doc_ids sorted). One shuffle on the digest."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .where("n_docs > 1")
    )


# ------------------------------------------------------------------ shingles


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Tokens come from the normalized text; shingles are built JVM-side with
    transform over token indices (no Python, no explode-before-join waste —
    the explode happens once here)."""
    toks = F.split(normalized_text(text_col), " ")
    with_toks = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).where(
        F.size("toks") >= n  # guard: sequence(0, size-n) must not descend
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - n),
        lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
    )
    return with_toks.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def size_compatible(sz_a: Column, sz_b: Column, threshold: float) -> Column:
    """Size-compatibility prune (exact): J(A,B) >= t implies
    common >= t*(|A|+|B|)/(1+t) and common <= min(|A|,|B|), so
    (1+t)*min >= t*(|A|+|B|) is necessary — incompatible pairs can never
    survive the final filter and are dropped BEFORE the pair aggregation
    (the giant intermediate). The slack is relative: the double rounding
    error of both sides grows with the sizes (at 1e8 shingles an absolute
    1e-9 dropped exact-boundary pairs)."""
    t = float(threshold)
    total = sz_a + sz_b
    return (1.0 + t) * F.least(sz_a, sz_b) >= t * total - 1e-9 * total


def _pair_jaccard(
    sh: DataFrame, max_shingle_df: int | None, threshold: float | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for all co-shingled pairs (a < b).

    Shape (r07): the per-doc size rides INTO the self-join and through the
    pair aggregation as a grouping key (functionally dependent on the doc
    id, so groups are unchanged), instead of being re-joined onto the pair
    table afterwards. On dense corpora the pair table is the giant
    intermediate — 114M rows at sf1.0 for 50k docs — and the old form
    pushed every one of those rows through two more hash joins before the
    caller's threshold filter could drop them; now the filter sits directly
    on the aggregate output (guide §2.3 "aggregate before you shuffle" /
    §1.2 don't compute what you throw away: measured 22.5 s -> 13.9 s).
    The capped+size-enriched explosion is registered in the shingle cache
    (same registry/eviction semantics as ``sh`` itself), so the hot-shingle
    and size aggregations run once per corpus, not once per join side."""
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().where(F.col("count") > max_shingle_df)
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # no broadcast hint: AQE broadcasts sizes when it fits; at 10^12 docs it
    # degrades to a shuffle join of the (doc_id, shingle) table — no worse
    # than the pair-table joins it replaces
    enriched = _cache_shingles(sh.join(sizes, "doc_id"))
    a = enriched.alias("a")
    b = enriched.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    if threshold is not None and threshold > 0:
        cond = cond & size_compatible(F.col("a.sz"), F.col("b.sz"), threshold)
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("common"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))).alias("jaccard"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs: (doc_a, doc_b, jaccard >= t).

    Always pass ``max_shingle_df`` on real corpora: without it the inverted-
    index self-join is quadratic in per-shingle document frequency and a hot
    stopword shingle melts a reducer at scale."""
    sh = _cache_shingles(shingles(df, id_col, text_col, n))  # sizes + both join sides
    return _pair_jaccard(sh, max_shingle_df, threshold=threshold).where(
        F.col("jaccard") >= threshold
    )


# ------------------------------------------------------------------- minhash

# Fixed odd 64-bit mix constants (splitmix64-style), seeded deterministically.
_MINHASH_SALTS = [0x9E3779B97F4A7C15 * (i + 1) & 0x7FFFFFFFFFFFFFFF for i in range(64)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig array<long>): sig[i] = min over shingles of a salted
    xxhash64. One groupBy over the shingle explosion; everything JVM-side."""
    sh = shingles_df if shingles_df is not None else shingles(df, id_col, text_col, n)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH banding: split signatures into ``bands`` rows-per-band chunks;
    docs sharing any band chunk become a candidate pair. Shuffle key =
    (band_id, chunk hash) — O(docs × bands) rows, never O(pairs)."""
    rows_per_band = num_hashes // bands
    # see simhash_pairs: both self-join sides reference the signature
    # aggregation and exchange reuse does not fire across a broadcast side —
    # checkpoint one row per doc instead of computing the signatures twice
    signatures = signatures.localCheckpoint(eager=False)
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        ),
                        F.lit(b),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard: the scale-path
    near-dup operator. Returns (doc_a, doc_b, jaccard >= threshold); at the
    default 32 hashes / 8 bands the miss probability at j=0.8 is
    (1-0.8^4)^8 ≈ 0.7%^... (~0.4%), and every surviving pair is exact."""
    # one shingle explosion feeds signatures, sizes, and verification —
    # persisted because three downstream branches would otherwise re-scan
    # and re-explode the full corpus (fatal at 100 TB, wasteful anywhere)
    sh = _cache_shingles(shingles(df, id_col, text_col, n))
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, shingles_df=sh)
    cands = minhash_candidate_pairs(sigs, num_hashes, bands)
    # verification and sizes only ever read CANDIDATE docs' shingles, so
    # restrict the explosion to them once (r07): one semi-join pass over the
    # cached explosion, lazily checkpointed so the verification's two join
    # sides and the size aggregate share it instead of each re-scanning the
    # full table (measured: verification was ~1.5 s of the 2.6 s query for
    # ~25 surviving pairs at sf1.0). Exact: pairs are formed from cands, so
    # non-candidate docs cannot contribute rows to any output.
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_docs, "doc_id", "left_semi").localCheckpoint(eager=False)
    sizes = sh_cand.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = sh_cand.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh_cand.select(F.col("doc_id").alias("doc_b2"), F.col("shingle").alias("shingle_b"))
    common = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, (F.col("doc_b") == F.col("doc_b2")) & (F.col("shingle") == F.col("shingle_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------------- simhash


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """(doc_id, simhash long): ``bits``-bit SimHash over unigram token hashes.

    bit b of the signature = sign of sum over tokens of (+1 if bit b of
    hash(token) else -1). Expressed as one aggregate over the token
    explosion with ``bits`` conditional sums — a single shuffle, no Python.

    ``token_hash`` defaults to ``xxhash64`` (the cheap scale path); pass
    :func:`..porthash.portable_hash60` with ``bits=60`` for the variant whose
    signatures a DuckDB oracle can recompute exactly."""
    hash_fn = token_hash or F.xxhash64
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.split(normalized_text(text_col), " ")).alias("tok"))
        .where("tok != ''")
        .withColumn("h", hash_fn(F.col("tok")))
    )
    bit_sums = [
        F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseXOR(term)
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    token_hash: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= k via the pigeonhole trick:
    split the ``bits``-bit signature into k+1 chunks; any pair within
    distance k agrees on at least one chunk, so candidates come from k+1
    equi-joins (one shuffle each on a chunk-width key), then exact
    verification with bit_count(xor)."""
    # lazy local checkpoint: both sides of the banding self-join reference
    # the signature pipeline, and Spark's exchange reuse does not fire when
    # one side is broadcast — without this the token explode + hash + 60-sum
    # aggregation ran TWICE per query (r07 plan audit: the subtree appears
    # at operators 3-10 and 13-20 of the r06 plan, no ReusedExchange). The
    # checkpoint materializes one (doc_id, simhash) row per doc at first
    # action — per-run, not cross-run — same pattern as the CC iteration.
    sigs = simhash(df, id_col, text_col, bits=bits, token_hash=token_hash).localCheckpoint(
        eager=False
    )
    chunks = max_hamming + 1
    width = bits // chunks
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", c * width).bitwiseAND(F.lit((1 << width) - 1))
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # hamming is a pure function of the pair, so filtering BEFORE the
    # duplicate-elimination is exact and the distinct shuffles only the
    # pairs that already passed the threshold (a pair colliding in several
    # chunks appears several times; the old order shuffled every candidate
    # with both signature columns through the distinct first)
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_keep_best(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Near-dup pairs -> per-cluster keep decision: the keep-one policy.

    Clusters = connected components over the pair graph (dup-of is
    transitive at a fixed threshold only approximately; CC is the standard
    conservative closure — MinHashLSH dedup in every large-corpus pipeline
    does the same). Within each cluster keep the best document: max
    ``quality_col``, doc id ascending as the deterministic tie-break.

    Output: one row per clustered document — (doc_id, cluster, keep_doc_id,
    is_kept); unclustered documents (no dup edge) are absent, i.e. kept by
    definition. Scale shape: CC is O(log diameter) key-only shuffles
    (operators/graph.py); the keeper choice is one ``max_by`` aggregation on
    cluster id; quality joins in by doc id before the agg, so payloads never
    enter the iteration.
    """
    from .graph import connected_components

    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    q = quality.select(F.col(id_col).alias("node"), F.col(quality_col).alias("_q"))
    clustered = comp.join(q, "node")
    # keeper = max quality, min doc id among ties. min_by over (-quality,
    # node) keeps the doc id un-negated, so ids may be strings (negating the
    # id — round 2's form — failed analysis on non-numeric ids); quality is
    # a numeric score by contract, so ITS negation is safe.
    keeper = clustered.groupBy("component").agg(
        F.min_by("node", F.struct((-F.col("_q")).alias("_negq"), F.col("node"))).alias(
            "keep_doc_id"
        )
    )
    return (
        clustered.join(keeper, "component")
        .select(
            F.col("node").alias(id_col),
            F.col("component").alias("cluster"),
            "keep_doc_id",
            (F.col("node") == F.col("keep_doc_id")).alias("is_kept"),
        )
    )
