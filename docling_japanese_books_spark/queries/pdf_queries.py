"""PDF layout-parse queries (north-rule operator, driver-checkable)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extraction.pdf import (
    parse_pdf_bytes_udf,
    parse_pdf_udf,
    parse_pdf_udf_capped,
)
from ..extraction.pdf_bytes import text_to_pdf
from .relational import fan, query, t, tfan


@F.pandas_udf(T.BinaryType())
def _text_to_pdf_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: text_to_pdf(t or ""))


@query(
    "pdf_real_roundtrip",
    r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
      FROM documents)
    SELECT doc_id, 'ok' AS status, true AS text_match,
           CAST(ceil(len(string_split(t, ' ')) / 8.0) AS INT) AS n_spans,
           CAST(ceil(ceil(len(string_split(t, ' ')) / 8.0) / 40.0) AS INT)
             AS n_pages
    FROM norm WHERE length(t) > 0
    """,
)
def pdf_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF byte streams through the engine: each document's text is
    written as a genuine PDF (xref, page tree, FlateDecode content
    streams, UTF-16BE strings — extraction/pdf_bytes.py) inside the plan,
    then decoded back through the pure-Python PDF parser and the
    reading-order reconstruction. text_match asserts the byte-identical
    roundtrip (north rule); the oracle independently predicts span/page
    counts from the wrap geometry (8 words/line, 40 lines/page).

    Text is whitespace-normalized identically on BOTH sides first: the
    writer's wrap contract is single-space-separated non-empty words and
    the decoder strips spans, so a trailing/double space or empty text in
    a regenerated fixture would otherwise silently break the oracle's
    prediction."""
    docs = tfan(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    parsed = (
        docs.select("doc_id", norm.alias("text"))
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            "text",
            parse_pdf_bytes_udf(_text_to_pdf_udf(F.col("text"))).alias("e"),
        )
    )
    flat = F.replace(
        F.replace(F.col("e.text"), F.lit("\n\n"), F.lit(" ")),
        F.lit("\n"),
        F.lit(" "),
    )
    return parsed.select(
        "doc_id",
        F.col("e.status").alias("status"),
        (flat == F.col("text")).alias("text_match"),
        F.col("e.n_spans").alias("n_spans"),
        F.col("e.n_pages").alias("n_pages"),
    )


@query(
    "pdf_layout_roundtrip",
    "SELECT doc_id, replace(text, ' ', chr(10)) AS extracted FROM documents",
)
def pdf_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-IR reading-order roundtrip: each document's words become
    positioned spans (one column, ascending y) serialized as layout-IR JSON
    entirely JVM-side; the parser must reconstruct exactly the words in
    order — oracle is a pure string transform of the source text."""
    docs = tfan(spark, sf_dir, "documents")
    # to_json escapes the payload, so quote/backslash characters in the
    # document text cannot break the synthesized layout-IR literal
    spans = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w, i: F.to_json(
                F.struct(
                    F.lit(0).alias("x"),
                    (i * 30).alias("y"),
                    w.alias("text"),
                )
            ),
        ),
        ",",
    )
    ir = F.encode(
        F.concat(F.lit('{"pages":[{"spans":['), spans, F.lit("]}]}")), "utf-8"
    )
    return docs.select(
        "doc_id", parse_pdf_udf(ir).getField("text").alias("extracted")
    )


@query(
    "pdf_vertical_real",
    r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t
      FROM documents)
    SELECT doc_id,
           array_to_string(
             list_transform(string_split(t, ' ')[1:6],
               (w, i) -> CASE WHEN (i - 1) % 2 = 0
                              THEN w || '(r' || CAST(i - 1 AS VARCHAR) || ')'
                              ELSE w END),
             chr(10)) AS extracted
    FROM norm WHERE length(t) > 0
    """,
)
def pdf_vertical_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical Japanese reading order + furigana on REAL PDF bytes, under
    the driver gate (north rule: "reading-order reconstruction for vertical
    Japanese text, furigana/ruby handling"): each document's first 6 words
    become right-to-left tategaki columns in an Identity-V PDF, with ruby
    'r<i>' planted on even columns as small-font runs; the engine must
    decode the bytes, detect the vertical writing mode, re-attach the ruby
    runs, and emit columns in original order with base(reading) folding —
    which the oracle predicts as a pure string transform."""
    from ..extraction.pdf import parse_pdf_bytes
    from ..extraction.pdf_bytes import columns_to_vertical_pdf

    @F.pandas_udf(T.StringType())
    def vertical_roundtrip(text: pd.Series) -> pd.Series:
        def one(t: str) -> str:
            # whitespace-normalized like the oracle, so words are never
            # empty (an empty column's orphan ruby would desync the two)
            words = " ".join((t or "").split()).split(" ")[:6]
            cols = [
                (w, f"r{i}" if i % 2 == 0 else None) for i, w in enumerate(words)
            ]
            return parse_pdf_bytes(columns_to_vertical_pdf(cols))["text"]

        return text.map(one)

    docs = tfan(spark, sf_dir, "documents")
    return docs.filter(
        F.length(F.trim(F.regexp_replace("text", r"\s+", " "))) > 0
    ).select("doc_id", vertical_roundtrip(F.col("text")).alias("extracted"))


@query("pdf_layout_vertical")
def pdf_layout_vertical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical-text reading order over synthesized two-column pages
    (rows-only; column semantics pinned by tests/test_pdf_layout.py)."""
    docs = fan(t(spark, sf_dir, "documents").limit(100))
    # two vertical columns: first half of words in the right column (x=500),
    # second half in the left column (x=100) — reading order = original order
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    spans = F.array_join(
        F.transform(
            words,
            lambda w, i: F.to_json(
                F.struct(
                    F.lit(True).alias("vertical"),
                    F.when(i < n / 2, F.lit(500)).otherwise(F.lit(100)).alias("x"),
                    F.when(i < n / 2, i * 30)
                    .otherwise((i - n / 2) * 30)
                    .alias("y"),
                    w.alias("text"),
                )
            ),
        ),
        ",",
    )
    ir = F.encode(
        F.concat(F.lit('{"pages":[{"spans":['), spans, F.lit("]}]}")), "utf-8"
    )
    parsed = docs.select("doc_id", F.col("text"), parse_pdf_udf(ir).alias("e"))
    return parsed.select(
        "doc_id",
        (F.col("e.text") == F.replace(F.col("text"), F.lit(" "), F.lit("\n"))).alias(
            "order_preserved"
        ),
        F.col("e.n_spans").alias("n_spans"),
    )


@query(
    "pdf_pages_capped",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 5 + 1 > 3 THEN 'truncated' ELSE 'ok' END AS status,
           CAST(least(doc_id % 5 + 1, 3) AS INT) AS n_pages,
           CAST(least(doc_id % 5 + 1, 3) AS INT) AS n_spans
    FROM documents
    """,
)
def pdf_pages_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 page-count cap (ref processor.py:293 max_num_pages, config.py:50):
    each document gets a synthesized (doc_id % 5 + 1)-page layout IR; the
    capped parser processes at most 3 pages and reports status='truncated'
    for longer documents — the truncation metric is a first-class status."""
    docs = tfan(spark, sf_dir, "documents")
    n_pages = (F.col("doc_id") % 5 + 1).cast("int")
    ir = F.encode(
        F.to_json(
            F.struct(
                F.transform(
                    F.sequence(F.lit(0), n_pages - 1),
                    lambda i: F.struct(
                        F.array(
                            F.struct(
                                F.lit(0).alias("x"),
                                F.lit(0).alias("y"),
                                F.concat(F.lit("p"), i.cast("string")).alias("text"),
                            )
                        ).alias("spans")
                    ),
                ).alias("pages")
            )
        ),
        "utf-8",
    )
    parsed = docs.select("doc_id", parse_pdf_udf_capped(3)(ir).alias("e"))
    return parsed.select(
        "doc_id",
        F.col("e.status").alias("status"),
        F.col("e.n_pages").alias("n_pages"),
        F.col("e.n_spans").alias("n_spans"),
    )
