"""Generate the committed golden fixtures under fixtures/golden/:

- ``reference_docs.parquet`` — the interleaved 100-note demo corpus
  (doc_id, spans) exactly as ``corpus.reference_documents`` builds it; the
  media_features oracle recomputes the whole media pipeline from this file.
- ``kg_triples.parquet`` — the expected triples from the gold-gated pipeline
  (the extraction whose P/R vs the reference annotations is asserted by
  tests/test_gold_gate); the kg_* oracles hash against it, so any regression
  in sectioning/scoring/linking flips CORRECTNESS red.
- ``mentions.parquet`` — (doc_id, mentions) after sectioning + scoring but
  BEFORE linking: the input the kg_linking oracle re-derives labels from
  independently (recursive-CTE greedy scan over the vocab CSV in DuckDB),
  so only the Python regex sectioner + scorer stay golden-pinned.

Also verifies, before writing, that the relational linker's output is
row-identical to the pipeline projection (the kg_relational oracle depends
on that equality).

Run: python scripts/make_golden.py
"""

import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

GOLDEN = REPO / "fixtures" / "golden"


def write_single_parquet(df, dest: Path) -> None:
    """Spark -> one .parquet file (coalesce to one part, move it out)."""
    tmp = tempfile.mkdtemp(prefix="golden-")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(Path(tmp).glob("part-*.parquet"))
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(str(part), dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    import __spark_entry__ as entry
    from llacie_spark.corpus import reference_documents
    from llacie_spark.session import get_spark

    spark = get_spark(app_name="make-golden", master="local[8]", shuffle_partitions=8)

    docs = reference_documents(spark, str(REPO / "fixtures/admission-100.txt"))
    write_single_parquet(docs, GOLDEN / "reference_docs.parquet")
    print(f"reference_docs.parquet: {docs.count()} docs")

    triples = entry._q_kg_triples(spark, entry.DEFAULT_SF).orderBy(
        "episode_id", "label_name", "line_number"
    )
    rel = entry._q_kg_relational(spark, entry.DEFAULT_SF)

    t_rows = sorted(
        (r.doc_id, r.label_name, r.line_number) for r in triples.collect()
    )
    r_rows = sorted((r.doc_id, r.label_name, r.line_number) for r in rel.collect())
    assert t_rows == r_rows, (
        f"relational linker diverges from pipeline: {len(t_rows)} vs {len(r_rows)} rows; "
        f"first diff: {next((a, b) for a, b in zip(t_rows, r_rows) if a != b)}"
    )
    print(f"relational == pipeline projection ({len(t_rows)} rows)")

    write_single_parquet(triples, GOLDEN / "kg_triples.parquet")
    print(f"kg_triples.parquet: {len(t_rows)} triples")

    from llacie_spark.corpus import assemble_text
    from llacie_spark.pipeline import fused_extract
    from llacie_spark.vocab import Vocab

    vocab = Vocab.from_csv(str(REPO / "fixtures/vocab_pres_sx_v2.csv"))
    mentions = fused_extract(assemble_text(docs), vocab).select(
        "doc_id", "mentions"
    ).orderBy("doc_id")
    write_single_parquet(mentions, GOLDEN / "mentions.parquet")
    print(f"mentions.parquet: {mentions.count()} docs")


if __name__ == "__main__":
    main()
