"""SQL-window reference for queries_text.winnow: the r5 winnowing form,
the shape the frozen DuckDB oracle text states. tests/test_winnow_kernel.py
runs it beside the Arrow kernel on planted edge docs and the fixture corpus
and asserts identical row sets."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_coverage_spark.queries_text import (_WINNOW_POS_FIELD, WINNOW_K,
                                             WINNOW_W, _winnow_hash_sql)


def winnow_window(docs: DataFrame) -> DataFrame:
    """docs(doc_id, text) → (doc_id, gram_pos, gram_hash): one row per
    gram, a per-doc sliding min over a window sort, then DISTINCT."""
    grams = docs.filter(F.length("text") >= WINNOW_K).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.length("text") - WINNOW_K)
        ).alias("pos"),
    )
    pack = (
        F.expr(_winnow_hash_sql()).cast("bigint") * _WINNOW_POS_FIELD
        + F.col("pos")
    ).alias("pack")
    g = grams.select("doc_id", "pos", pack)
    win = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    sel = g.select("doc_id", F.min("pack").over(win).alias("m")).distinct()
    return sel.select(
        "doc_id",
        (F.col("m") % _WINNOW_POS_FIELD).cast("int").alias("gram_pos"),
        F.expr(f"m div {_WINNOW_POS_FIELD}").cast("bigint").alias("gram_hash"),
    )
