"""End-to-end Spark pipeline: documents -> triples, span invariant, P/R gate.

Mirrors the reference quickstart chain (tests/integration/test_quickstart.py):
100 notes -> 100 sections -> features -> episode labels -> evaluate, minus the
live LLM (deterministic gazetteer scorer instead, like the SKIPTO fixture).
"""

from pathlib import Path

import pytest

from llacie_spark.corpus import assemble_text, reference_doc_meta, reference_documents
from llacie_spark.evaluate import confusion_counts, first_annotator_labels
from llacie_spark.pipeline import fused_extract, run_pipeline, spans_fingerprint

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def docs(spark):
    return reference_documents(spark).cache()


@pytest.fixture(scope="module")
def meta(spark):
    return reference_doc_meta(spark).cache()


@pytest.fixture(scope="module")
def triples(spark, docs, meta, vocab):
    return run_pipeline(docs, meta, vocab).cache()


@pytest.fixture(scope="module")
def gold_df(spark, gold_rows):
    rows = [
        (g["episode_id"], lbl, "annotator1") for g in gold_rows for lbl in g["labels"]
    ]
    return spark.createDataFrame(rows, "episode_id long, label_name string, annotator string")


def test_documents_shape(docs):
    assert docs.count() == 100
    row = docs.first()
    kinds = {s["kind"] for s in row["spans"]}
    assert kinds <= {"text", "media"}
    offsets = [s["offset"] for s in sorted(row["spans"], key=lambda s: s["offset"])]
    assert offsets == list(range(len(offsets)))  # strictly increasing from 0


def test_sections_extracted_for_all_docs(spark, docs, vocab):
    """Every fixture note yields a section, and the extraction's
    (doc_id, mentions) is the committed golden mentions row for row — the
    frame ``scripts/make_golden.py`` writes."""
    ext = fused_extract(assemble_text(docs), vocab)
    assert ext.where("section_text is not null").count() == 100
    got = ext.select("doc_id", "mentions").orderBy("doc_id").collect()
    golden = (
        spark.read.parquet(str(REPO / "fixtures/golden/mentions.parquet"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, list(r.mentions)) for r in got] == [
        (r.doc_id, list(r.mentions)) for r in golden
    ]


def test_triples_emitted(triples):
    assert triples.count() > 0
    cols = set(triples.columns)
    assert {"episode_id", "doc_id", "pred", "label_name", "label_value",
            "line_number", "spans", "stage", "strategy", "strategy_version",
            "partition_id", "updated_at"} <= cols
    assert triples.where("pred != 'has_presenting_symptom'").count() == 0
    assert triples.where("label_value != 1.0").count() == 0


def test_span_sequence_invariant(docs, triples):
    """Per-row span-sequence equality (kind, text, media_ref, order) is
    preserved through every stage (BASELINE.json input_hint)."""
    fin = docs.select("doc_id", spans_fingerprint().alias("fp_in"))
    fout = triples.select("doc_id", spans_fingerprint().alias("fp_out")).distinct()
    joined = fin.join(fout, "doc_id")
    assert joined.count() > 0
    assert joined.where("fp_in != fp_out").count() == 0


def test_precision_recall_gate_spark(triples, gold_df, vocab):
    cc = confusion_counts(triples, gold_df, n_terms=len(vocab), max_line_num=10)
    assert cc.precision >= 0.95, cc.report()
    assert cc.recall >= 0.95, cc.report()
    # unlimited threshold matches (mention budget <= 10 lines)
    cc_all = confusion_counts(triples, gold_df, n_terms=len(vocab), max_line_num=None)
    assert (cc_all.tp, cc_all.fp, cc_all.fn) == (cc.tp, cc.fp, cc.fn)


def test_first_annotator_filter(spark):
    df = spark.createDataFrame(
        [(1, "fever", "b"), (1, "chills", "a"), (2, "cough", "c")],
        "episode_id long, label_name string, annotator string",
    )
    out = first_annotator_labels(df).collect()
    assert {(r.episode_id, r.label_name) for r in out} == {(1, "chills"), (2, "cough")}


def test_cohort_and_time_filters(spark, docs, vocab):
    """F1/F2/F4 predicates drop non-H&P, excluded-cohort, and >24h notes."""
    from pyspark.sql import functions as F

    meta = reference_doc_meta(spark)
    meta = meta.withColumn(
        "note_type", F.when(F.col("episode_id") == 1, "Progress").otherwise(F.col("note_type"))
    ).withColumn(
        "infection_criteria", F.when(F.col("episode_id") == 2, False).otherwise(True)
    ).withColumn(
        "date_of_service_ts",
        F.when(
            F.col("episode_id") == 3, F.to_timestamp(F.lit("3000-01-03 00:00:00"))
        ).otherwise(F.col("date_of_service_ts")),
    )
    triples = run_pipeline(docs, meta, vocab)
    eps = {r.episode_id for r in triples.select("episode_id").distinct().collect()}
    assert 1 not in eps and 2 not in eps and 3 not in eps
    assert 4 in eps


def test_argmin_join_picks_earliest_note(spark, vocab):
    """Two qualifying notes in one episode -> labels come from the earlier;
    at equal service time, from the smaller doc_id."""
    from pyspark.sql import functions as F

    from llacie_spark.schemas import DOC_META, DOCUMENTS

    def doc(doc_id, text):
        return (doc_id, [{"kind": "text", "text": text, "media_ref": "", "offset": 0}])

    docs = spark.createDataFrame(
        [
            doc("d1", "HPI: patient reports fever.\nROS: negative"),
            doc("d2", "HPI: patient reports chills.\nROS: negative"),
        ],
        DOCUMENTS,
    )
    meta = spark.createDataFrame(
        [
            ("d1", 1, "p1", "H&P", None, None, True, False),
            ("d2", 1, "p1", "H&P", None, None, True, False),
        ],
        DOC_META,
    )
    meta = meta.withColumn(
        "episode_start_ts", F.to_timestamp(F.lit("3000-01-01 00:00:00"))
    ).withColumn(
        "date_of_service_ts",
        F.when(F.col("doc_id") == "d2", F.to_timestamp(F.lit("3000-01-01 01:00:00"))).otherwise(
            F.to_timestamp(F.lit("3000-01-01 05:00:00"))
        ),
    )
    triples = run_pipeline(docs, meta, vocab)
    rows = triples.select("doc_id", "label_name").collect()
    assert {r.doc_id for r in rows} == {"d2"}  # earlier note wins
    assert {r.label_name for r in rows} == {"chills"}

    # equal date_of_service_ts: the (delta, doc_id) order picks the smaller
    # doc_id, whichever note the input yields first
    tied = meta.withColumn("date_of_service_ts", F.to_timestamp(F.lit("3000-01-01 01:00:00")))
    for ordered in (docs.orderBy("doc_id"), docs.orderBy(F.col("doc_id").desc())):
        rows = run_pipeline(ordered.coalesce(1), tied, vocab).select("doc_id", "label_name")
        assert {tuple(r) for r in rows.collect()} == {("d1", "fever")}


def test_fused_udf_batches_scorer_calls(spark, docs, vocab):
    """The batched-scorer contract (U1): the fused UDF must call
    score_batch once per Arrow batch, never per document. A per-row call is
    invisible with the in-process gazetteer but costs a subprocess backend
    one process spawn per row — measured 191 vs ~8,000 docs/sec at 40k docs
    (BENCH/SUBPROCESS_SCORER.md). Counted via accumulator; the scorer class
    is function-local so cloudpickle ships it by value."""
    from llacie_spark.scorer import GazetteerScorer

    calls = spark.sparkContext.accumulator(0)
    find_terms = vocab.find_terms

    class CountingScorer:
        name = "feature.presenting_sx.counting"
        version = "0.0.0"

        def __init__(self):
            self.inner = GazetteerScorer(canonicalize=find_terms)

        def score_batch(self, texts):
            calls.add(1)
            return self.inner.score_batch(texts)

    two_parts = assemble_text(docs).repartition(2)
    n_docs = two_parts.count()
    out = fused_extract(two_parts, vocab, scorer=CountingScorer())
    extracted = out.select("doc_id", "mentions").collect()
    assert len(extracted) == n_docs
    # 100 docs in 2 partitions, Arrow batch cap >= 2048: one UDF batch per
    # partition => one score_batch call each. Per-row calls would be ~100.
    assert calls.value <= 2, f"score_batch called {calls.value} times"
    # and the batched path still extracts (non-degenerate output)
    assert any(r.mentions for r in extracted)


def test_fused_udf_rejects_length_mismatched_scorer(spark, docs, meta, vocab):
    """A backend returning the wrong number of results (truncated subprocess
    stdout, LLM batch drop) must fail loudly, in both extraction plans —
    pre-r6 the zip silently gave trailing documents empty mentions (ADVICE
    r5)."""

    class TruncatingScorer:
        name = "feature.presenting_sx.truncating"
        version = "0.0.0"

        def score_batch(self, texts):
            return [["fever"] for _ in texts[:-1]]  # drops the last result

    out = fused_extract(assemble_text(docs).coalesce(1), vocab, scorer=TruncatingScorer())
    with pytest.raises(Exception, match="batched-scorer contract"):
        out.select("mentions").collect()
    # the same check guards run_pipeline's score-and-link UDF
    with pytest.raises(Exception, match="batched-scorer contract"):
        run_pipeline(docs, meta, vocab, scorer=TruncatingScorer()).collect()


def test_run_pipeline_scores_only_each_episodes_winner(spark, docs, vocab):
    """Winner-first: on the 100-note fixture, regrouped into 20 episodes
    of 5 notes with some notes failing F1 or F4, the scorer receives
    exactly one section per winning episode, in one score_batch call per
    Arrow batch, and the triples equal the staged path's, which scores
    every note."""
    from pyspark.sql import functions as F

    from llacie_spark.pipeline import episode_triples
    from llacie_spark.scorer import GazetteerScorer

    sections = spark.sparkContext.accumulator(0)
    calls = spark.sparkContext.accumulator(0)
    find_terms = vocab.find_terms

    class CountingScorer:
        name = "feature.presenting_sx.counting"
        version = "0.0.0"

        def __init__(self):
            self.inner = GazetteerScorer(canonicalize=find_terms)

        def score_batch(self, texts):
            calls.add(1)
            sections.add(len(texts))
            return self.inner.score_batch(texts)

    n = F.substring("doc_id", 5, 6).cast("int")
    hours = F.when(n % 7 == 0, 30).otherwise((n * 7) % 23)  # 30 h fails F4
    meta = (
        reference_doc_meta(spark)
        .withColumn("episode_id", (n % 20 + 1).cast("long"))
        .withColumn("note_type", F.when(n % 3 == 0, "Progress").otherwise("H&P"))  # F1
        .withColumn(
            "date_of_service_ts",
            (F.col("episode_start_ts").cast("long") + hours * 3600).cast("timestamp"),
        )
    )
    cols = ["episode_id", "doc_id", "label_name", "line_number"]
    got = run_pipeline(docs, meta, vocab, scorer=CountingScorer()).select(*cols).collect()
    staged = episode_triples(fused_extract(assemble_text(docs), vocab), meta).select(*cols)
    assert sorted(map(tuple, got)) == sorted(map(tuple, staged.collect()))
    # every fixture note has a section, so each episode with an F1/F4
    # survivor has one winner
    winners = meta.where((n % 3 != 0) & (n % 7 != 0)).select("episode_id").distinct().count()
    assert winners == 20
    assert sections.value == winners
    assert 1 <= calls.value <= spark.sparkContext.defaultParallelism


def test_score_and_link_matches_equal_find_terms(vocab, corpus_notes):
    """Spark-free: ``_score_and_link`` memoizes ``find_terms`` per mention
    line for the batch, and its ``matches`` stay list-equal, order included,
    to ``find_terms`` over each newline-joined mention list."""
    from llacie_spark.operators.sections import clean_note_text, extract_short_hpi
    from llacie_spark.pipeline import _score_and_link

    def want(mentions):
        return [list(vocab.find_terms("\n".join(ms)).items()) for ms in mentions]

    sections = [extract_short_hpi(clean_note_text(n)) for n in corpus_notes] + [None]
    mentions, matches = _score_and_link(sections, vocab.ngram_dicts)
    assert matches == want(mentions) and mentions[-1] == matches[-1] == []
    assert sum(map(len, matches)) > 300

    class Stub:  # an injected scorer's raw mention lists
        lists = [
            ["fever\nchills", "cough"],  # a mention with an embedded newline
            ["!!!", "leg swelling", "--"],  # symbol-only lines
            ["cough", "nausea", "cough"],  # one term on two lines
            [],
            ["chills", "fever\n\nfever"],
        ]

        def score_batch(self, texts):
            return self.lists[: len(texts)]

    mentions, matches = _score_and_link(["a", "b", None, "c", "d", "e"], vocab.ngram_dicts, Stub())
    assert mentions == Stub.lists[:2] + [[]] + Stub.lists[2:]
    assert matches == want(mentions)
    assert matches[0] == [("cough", 3), ("chills", 2), ("fever", 1)] and matches[3] == [("cough", 1), ("nausea", 2)]
