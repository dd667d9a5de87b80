import csv
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from llacie_spark.session import get_spark

    spark = get_spark(
        app_name="llacie-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-")},
    )
    yield spark
    spark.stop()


@pytest.fixture
def forbid_parquet_reads():
    """``with forbid_parquet_reads(prefix):`` makes ``DataFrameReader.parquet``
    fail on any path under ``prefix`` inside the block."""
    from contextlib import contextmanager

    from pyspark.sql import DataFrameReader

    real = DataFrameReader.parquet

    def guarded_for(prefix):
        def guarded(self, *paths, **kw):
            assert not any(str(p).startswith(prefix) for p in paths), f"read {paths}"
            return real(self, *paths, **kw)

        return guarded

    @contextmanager
    def forbid(prefix: str):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(DataFrameReader, "parquet", guarded_for(prefix))
            yield

    return forbid


@pytest.fixture(scope="session")
def vocab():
    from llacie_spark.vocab import Vocab

    return Vocab.from_csv(str(REPO / "fixtures/vocab_pres_sx_v2.csv"))


@pytest.fixture(scope="session")
def gold_rows():
    rows = []
    with open(REPO / "fixtures/gold_labels_admission100.csv", newline="") as f:
        for g in csv.DictReader(f):
            labels = [x for x in re.split(r"\s*[|]\s*", g["human_labels"].strip()) if x]
            rows.append(
                {
                    "episode_id": int(g["FK_episode_id"]),
                    "section_value": g["section_value"],
                    "labels": labels,
                }
            )
    return rows


@pytest.fixture(scope="session")
def corpus_notes():
    from llacie_spark.corpus import split_corpus

    return split_corpus((REPO / "fixtures/admission-100.txt").read_text())
