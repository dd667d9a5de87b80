"""The staged KG-construction pipeline: documents → sections → mentions →
triples, as pure ``DataFrame -> DataFrame`` functions.

Reference lifecycle being re-expressed (SURVEY.md §3): ``llacie sections
extract -s regex`` → ``llacie features extract`` → ``llacie episode-labels
extract -s pres_sx_eplab2`` (``/root/reference/llacie/app.py:135-220``). The
reference runs these as driver loops over Postgres batches + Slurm fan-out;
here each stage is one Spark job:

- the one-shot ``run_pipeline`` is winner-first: ``doc_meta`` is cut to
  F1/F2/F4 and joined to the documents before any Python runs, a section
  UDF (clean + HPI regex) runs over those notes only, the rank-1 window
  picks each episode's earliest sectioned note, and a score-and-link UDF
  scores those winners only. Each UDF is Arrow-batched over one projected
  column, so all other columns (including the ``spans`` payload with
  media refs) never leave the JVM;
- ``fused_extract`` is the per-note feature store of staged runs: ONE UDF
  runs the same two per-batch bodies (``_sections``, ``_score_and_link``)
  on every note, because a staged note may win its episode in a later
  batch;
- the vocabulary is broadcast once per job (``llacie/vocab.py:55-74``'s
  pickle cache analog);
- lineage + metrics columns (stage, strategy, version, partition, runtime
  share, timestamp) are appended to every output, the analog of
  ``FK_strategy_id``/``strategy_runtime``/``feature_updated``
  (``llacie/sql/schema.sql:106-110``);
- checkpointed runs (``run_kg --stage-root``) stage ``fused_extract``'s
  output through the snapshot catalog, and ``incremental.derive_batch``
  derives each batch's episodes from the staged table with the same
  ``episode_triples``;
- the span-sequence invariant: every stage output keeps the input ``spans``
  column untouched; ``spans_fingerprint`` gives a cheap JVM-side equality
  check.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .operators.sections import clean_note_text, extract_short_hpi
from .schemas import PRED_HAS_SYMPTOM
from .scorer import GazetteerScorer
from .vocab import Vocab

SECS_IN_24H = 86400  # reference pres_sx_eplab2/__init__.py:7


def spans_fingerprint(spans_col: str = "spans") -> Column:
    """Order-sensitive hash of (kind, text, media_ref) in offset order —
    the per-row span-sequence invariant as one comparable value."""
    ordered = F.array_sort(
        F.col(spans_col),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    return F.xxhash64(
        F.array_join(
            F.transform(
                ordered, lambda s: F.concat_ws("\x1f", s["kind"], s["text"], s["media_ref"])
            ),
            "\x1e",
        )
    )


def with_lineage(df: DataFrame, stage: str, strategy: str, version: str) -> DataFrame:
    return (
        df.withColumn("stage", F.lit(stage))
        .withColumn("strategy", F.lit(strategy))
        .withColumn("strategy_version", F.lit(version))
        .withColumn("partition_id", F.spark_partition_id())
        .withColumn("updated_at", F.current_timestamp())
    )


_MATCHES = T.ArrayType(
    T.StructType(
        [
            T.StructField("label_name", T.StringType(), False),
            T.StructField("line_number", T.LongType(), False),
        ]
    )
)


def _sections(texts) -> list[str | None]:
    """The per-batch section body: clean + short-HPI regex per note. An
    empty or missing section is None, an extraction failure (kept, so the
    anti-join resume can retry it — reference regex.py:118-122). Python
    regex semantics are kept deliberately (SURVEY.md §7.3)."""
    out = []
    for t in texts:
        sec = extract_short_hpi(clean_note_text(t)) if t is not None else None
        out.append(sec or None)
    return out


def _score_and_link(sections: list, vocab_dicts, scorer=None) -> tuple[list, list]:
    """The per-batch score-and-link body: sections -> (mentions, matches),
    one entry each per section; a null section gets ``[]`` for both. A
    custom (LLM) scorer may be injected.

    ``find_terms`` is memoized per mention line for this batch only: the
    gazetteer's ``canonicalize`` calls and the ``matches`` of every section
    share it (a batch repeats the same short mentions; nothing outlives the
    batch, so no content cache spans the corpus)."""
    find_terms = Vocab(ngram_dicts=vocab_dicts).find_terms
    memo: dict[str, dict[str, int]] = {}

    def link(line: str) -> dict[str, int]:
        found = memo.get(line)
        if found is None:
            found = memo[line] = find_terms(line)
        return found

    s = scorer or GazetteerScorer(canonicalize=link)
    # ONE score_batch call per Arrow batch — the batched-scorer contract
    # (U1; reference scores whole batches per GPU worker). Calling
    # score_batch([sec]) per row cost a SubprocessScorer one process
    # spawn per DOCUMENT: measured 191 docs/sec vs 7,600 at 40k docs
    # (BENCH/SUBPROCESS_SCORER.md). Elementwise scorers (gazetteer,
    # subprocess line protocol, caching wrapper) return identical
    # results either way.
    scored_idx = [i for i, sec in enumerate(sections) if sec]
    scored = s.score_batch([sections[i] for i in scored_idx]) if scored_idx else []
    if len(scored) != len(scored_idx):
        # a misbehaving backend (truncated subprocess stdout, LLM batch
        # drop) must fail loudly — zip would silently hand trailing
        # documents empty mentions (ADVICE r5)
        raise RuntimeError(
            f"scorer {type(s).__name__} returned {len(scored)} results "
            f"for a batch of {len(scored_idx)} sections — batched-scorer "
            "contract violated; refusing to silently drop mentions"
        )
    mentions = [[] for _ in sections]
    for i, ms in zip(scored_idx, scored):
        mentions[i] = ms
    matches = []
    for ms in mentions:
        # find_terms over the newline-joined list: lines last to first, so
        # the earliest line number wins and dict order is first sight
        found: dict[str, int] = {}
        lines = "\n".join(ms).split("\n")
        for line_no in range(len(lines), 0, -1):
            for term in link(lines[line_no - 1]):
                found[term] = line_no
        matches.append(list(found.items()))
    return mentions, matches


def fused_extract(documents_with_text: DataFrame, vocab: Vocab, scorer=None) -> DataFrame:
    """sections+mentions+linking for EVERY note, as ONE pandas UDF
    returning a struct.

    This is the per-note feature store of staged runs (the ``extracted``
    table, the analog of llacie's ``features`` table): a staged note may
    win its episode in a later batch, so each is scored when staged.
    ``run_pipeline`` runs the same two per-batch bodies as two UDFs with
    the rank-1 window between them. One UDF node here means one Python
    worker pool, one Arrow round-trip, and the text crosses the
    JVM/Python boundary exactly once.
    """
    vocab_dicts = vocab.ngram_dicts
    out_type = T.StructType(
        [
            T.StructField("section_text", T.StringType(), True),
            T.StructField("mentions", T.ArrayType(T.StringType()), True),
            T.StructField("matches", _MATCHES, True),
        ]
    )

    @F.pandas_udf(out_type)
    def fused_udf(texts: pd.Series) -> pd.DataFrame:
        sections = _sections(texts)
        mentions, matches = _score_and_link(sections, vocab_dicts, scorer)
        return pd.DataFrame(
            {"section_text": sections, "mentions": mentions, "matches": matches}
        )

    fused_udf = fused_udf.asNondeterministic()  # never duplicate the Python work
    out = documents_with_text.withColumn("_ext", fused_udf("note_text")).select(
        "*",
        F.col("_ext.section_text").alias("section_text"),
        F.col("_ext.mentions").alias("mentions"),
        F.col("_ext.matches").alias("matches"),
    ).drop("_ext")
    return with_lineage(out, "extract", "fused.gazetteer", "2.0.0")


def _qualifying_meta(doc_meta: DataFrame) -> DataFrame:
    """``doc_meta`` cut to the cohort filters, which read it alone: cohort
    flags pass (F2), H&P notes (F1), service within 24 h of episode start
    (F4); with the service ``delta`` the argmin orders by."""
    delta = F.unix_timestamp("date_of_service_ts") - F.unix_timestamp("episode_start_ts")
    return (
        doc_meta.where(F.col("infection_criteria") & ~F.col("excl_st0_combined"))  # F2
        .where(F.col("note_type") == "H&P")  # F1
        .withColumn("delta", delta)
        .where(F.col("delta") < F.lit(SECS_IN_24H))  # F4
    )


def _earliest(qualifying: DataFrame) -> DataFrame:
    """Argmin join J4: each episode's earliest qualifying note, Postgres
    ``DISTINCT ON`` ≡ rank-1 over ``(delta, doc_id)``, so ties go to the
    smaller doc_id."""
    w = Window.partitionBy("episode_id").orderBy(F.col("delta").asc(), F.col("doc_id").asc())
    return qualifying.withColumn("rn", F.row_number().over(w)).where("rn = 1")


def _triples(earliest: DataFrame) -> DataFrame:
    """One triple per matched term of each winning note, with the term's
    earliest mention line number."""
    triples = earliest.select(
        "episode_id",
        "doc_id",
        F.lit(PRED_HAS_SYMPTOM).alias("pred"),
        F.explode("matches").alias("m"),
        "spans",
    ).select(
        "episode_id",
        "doc_id",
        "pred",
        F.col("m.label_name").alias("label_name"),
        F.lit(1.0).alias("label_value"),  # constant in the reference (db.py:747)
        F.col("m.line_number").alias("line_number"),
        "spans",
    )
    return with_lineage(triples, "triples", "episode_label.pres_sx_eplab2", "1.0.0")


def episode_triples(linked: DataFrame, doc_meta: DataFrame) -> DataFrame:
    """Collapse per-note matches into per-episode (subj, pred, obj) triples.

    Reference semantics (``llacie/db.py:237-275`` + pres_sx_eplab2): among an
    episode's qualifying notes (F1/F2/F4), take the *earliest* note that
    produced features (argmin join J4), and emit one triple per matched
    term with the earliest mention line number.

    The rank-1 window carries ``spans`` through the episode exchange: only
    qualifying notes reach it, and no second scan re-joins the payload.
    """
    qualifying = linked.join(_qualifying_meta(doc_meta), "doc_id").where(
        # J7: qualify on section/feature presence (a scored note with zero
        # matches still wins the argmin and yields no labels — reference
        # get_earliest_notes_with_feature semantics, db.py:237-275)
        F.col("section_text").isNotNull() & F.col("matches").isNotNull()
    )
    return _triples(_earliest(qualifying))


def filter_terms(
    df: DataFrame,
    whitelist,
    col: str = "label_name",
    keep: bool = True,
) -> DataFrame:
    """F6: restrict rows to an allowed term set (or exclude it, keep=False).

    The reference applies term whitelists when scoring subsets of the label
    space (evaluator ``--terms`` narrowing). Spark-side this is a broadcast
    ``isin`` for literal lists, or a broadcast semi/anti join when the
    whitelist is a DataFrame (vocab-derived, too big for a literal)."""
    if isinstance(whitelist, DataFrame):
        how = "left_semi" if keep else "left_anti"
        other = whitelist.select(F.col(whitelist.columns[0]).alias(col)).distinct()
        return df.join(F.broadcast(other), col, how)
    cond = F.col(col).isin(list(whitelist))
    return df.where(cond if keep else ~cond)


def docs_partitions(n_docs: int, cores: int, docs_per_task: int = 1000) -> int:
    """Partition count for a GENERATED corpus feeding the Python-UDF stage.

    Measured on local[32] at 40k and 480k docs (quiet-gated best-of-3):
    the per-task Arrow hop costs ~5-10 ms of worker/serialization overhead,
    so tiny tasks dominate wall at small corpora (40k docs @ 256 parts =
    156 docs/task ran 6.0 s vs 4.4 s @ 64 parts), while huge tasks blow
    past the pandas-batch sweet spot and straggle at large corpora (480k @
    64 parts = 7500 docs/task ran 83 s vs 33 s @ 256). The stable band is
    ~600-2000 docs/task: aim n_docs/1000, clamped to [2x, 8x] cores.
    File-based reads don't use this — their partitioning comes from
    ``spark.sql.files.maxPartitionBytes``, which encodes the same
    bytes-per-task target natively."""
    return min(8 * cores, max(2 * cores, n_docs // docs_per_task))


def run_pipeline(documents: DataFrame, doc_meta: DataFrame, vocab: Vocab, scorer=None) -> DataFrame:
    """documents + doc_meta -> triples in one plan, winner-first: the
    scorer sees each episode's winning note only.

    Every qualifying filter but section presence reads ``doc_meta`` alone,
    and a sectioned note always has ``matches``, so the winner is the
    earliest F1/F2/F4 note with an HPI section, known before any scorer
    call. The plan: documents ⋈ ``doc_meta`` cut to F1/F2/F4 (no Python
    yet) → ``assemble_text`` → section UDF → ``section_text is not null``
    → the rank-1 window → score-and-link UDF over the winners'
    ``section_text`` (only ``matches`` comes back) → triples. The window's
    input is hash-partitioned one task per core and explicitly sized, so
    AQE cannot coalesce the scoring stage into one task.
    """
    from .corpus import assemble_text

    vocab_dicts = vocab.ngram_dicts

    @F.pandas_udf(T.StringType())
    def section_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(_sections(texts), dtype=object)

    @F.pandas_udf(_MATCHES)
    def score_udf(sections: pd.Series) -> pd.Series:
        _mentions, matches = _score_and_link(list(sections), vocab_dicts, scorer)
        return pd.Series(matches, dtype=object)

    # nondeterministic: never duplicate the Python work
    section_udf = section_udf.asNondeterministic()
    score_udf = score_udf.asNondeterministic()
    candidates = assemble_text(documents.join(_qualifying_meta(doc_meta), "doc_id"))
    sectioned = (
        candidates.withColumn("section_text", section_udf("note_text"))
        .drop("note_text")
        .where(F.col("section_text").isNotNull())
    )
    parts = documents.sparkSession.sparkContext.defaultParallelism
    winners = _earliest(sectioned.repartition(parts, "episode_id"))
    return _triples(winners.withColumn("matches", score_udf("section_text")))
