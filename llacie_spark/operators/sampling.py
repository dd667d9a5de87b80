"""Deterministic sampling for training-data mixes.

A 100 TB corpus is never trained on raw: each stratum (language, quality
band, source) gets its own keep-rate. Doing that with ``df.sample`` is
non-reproducible across runs/engines and unsampleable per-stratum; here the
keep decision is a pure hash of the row id — a partition-local filter with
NO shuffle, no RNG state, identical output on any engine and any
partitioning, and stable under incremental re-runs (a doc's fate never
changes when its neighbors change).

The hash is the portable md5-derived 60-bit hash (``operators/porthash``)
so a DuckDB oracle reproduces the exact sample value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .porthash import portable_hash60

RESOLUTION = 10_000  # rate granularity: 1/10000


def keep_bucket(id_col: Column | str, salt: str = "strat") -> Column:
    """Stable per-row bucket in [0, RESOLUTION): the sampling coin."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return portable_hash60(c.cast("string"), salt=salt) % RESOLUTION


def stratified_sample(
    df: DataFrame,
    stratum: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Keep each row iff hash(id) mod RESOLUTION < RESOLUTION * rate(stratum).

    ``stratum`` is any string expression (e.g. ``textstats.lang_guess`` or a
    quality band); ``rates`` maps stratum value -> keep probability. Rows in
    unlisted strata get ``default_rate``. Output = input columns +
    ``stratum``; rates are exact in expectation and deterministic in fact.
    """
    # The rate lookup is a broadcast join against a tiny (stratum, rate)
    # table rather than a when-chain folded into the filter predicate. Same
    # decision per row (equi-match on the stratum value, coalesce to the
    # default for unlisted/null strata — a null stratum matched no when()
    # branch before and joins nothing now), but the expensive stratum
    # expression is evaluated ONCE in a projection instead of re-inlined
    # into a filter that Catalyst then pushes below any repartition: the r06
    # plan evaluated the stratum expression 108x per row inside a
    # single-task scan stage (OPTIMIZATION_r07.md §stratified_sample).
    #
    # Spark casts both join sides to string, so rates keys of any type
    # compare with the stratum value, never through an implicit cast.
    spark = df.sparkSession
    rate_rows = [(value, float(r)) for value, r in sorted(rates.items())]
    rate_df = (
        spark.createDataFrame(rate_rows, ["stratum", "_rate"])
        if rate_rows
        else spark.createDataFrame([], "stratum string, _rate double")
    )
    rate_df = F.broadcast(rate_df.select(F.col("stratum").cast("string"), "_rate"))
    # round, don't truncate: 0.3 * 10000 is 2999.999... in binary floating
    # point, and a cast-to-long threshold of 2999 would systematically
    # under-sample every non-binary-exact rate (ADVICE r2). Any oracle SQL
    # must mirror the same round() before casting. The arithmetic below is
    # identical to the pre-r07 when-chain form: same double rate literal,
    # same round()*cast in Spark.
    thresh = F.round(
        F.coalesce(F.col("_rate"), F.lit(float(default_rate))) * RESOLUTION
    ).cast("long")
    # withColumn replaces a pre-existing stratum column in place, so the
    # output carries one
    cols = [c for c in df.columns if c != "stratum"]
    return (
        df.withColumn("stratum", stratum.cast("string"))
        .join(rate_df, "stratum", "left")
        .where(keep_bucket(F.col(id_col), salt) < thresh)
        .select(*cols, "stratum")  # using-join moved the key first
    )
