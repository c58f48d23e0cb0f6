"""The Arrow winnowing kernel must be row-set-identical to the SQL-window
form the frozen DuckDB oracle states (tests/winnow_reference.py)."""

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from osm_coverage_spark import queries_text as qt
from osm_coverage_spark.session import get_spark
from osm_coverage_spark.sources import derived
from tests.winnow_reference import winnow_window

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="test_winnow_kernel", master="local[4]",
                  shuffle_partitions=4)
    yield s


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_kernel_equals_window_on_edge_docs(spark):
    """Planted edges: shorter than K, exactly K, K..K+W-1 (suffix-min tail
    only), non-ASCII codepoints (ascii() == ord()), repeated grams (the
    DISTINCT), and an empty string."""
    docs = spark.createDataFrame(
        [
            (1, "ab"),                      # < K: no grams
            (2, "12345678"),                # == K: one gram
            (3, "123456789"),               # K < len < K+W: tail windows only
            (4, "Große Straße im Übermaß"),  # non-ASCII codepoints
            (5, "aaaaaaaaaaaaaaaaaaaa"),    # repeated grams → DISTINCT
            (6, ""),                        # empty
            (7, "the quick brown fox jumps over the lazy dog " * 3),
        ],
        "doc_id long, text string",
    )
    assert _rows(qt.winnow(docs)) == _rows(winnow_window(docs))


def test_kernel_equals_window_on_fixture_corpus(spark):
    derived.load_testdata(spark, SF_DIR)
    docs = spark.table("documents")
    assert _rows(qt.winnow(docs)) == _rows(winnow_window(docs))
