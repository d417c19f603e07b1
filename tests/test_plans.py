"""Physical-plan regression tests: the plans that make 100 TB feasible.

These pin the *shape* Catalyst picks — a silent regression to sort-merge
join or a global sort would still pass value checks but die at scale."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs = entry.queries()

    def plan_of(name: str) -> str:
        return qs[name](spark, SF)._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q1_filter_pushdown(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_filter_sits_below_the_fan(spark):
    """A filter on a fanned scan needs no hand-placed "filter-then-fan":
    Catalyst pushes it below the fan Exchange and into the parquet scan,
    so the fan shuffles only surviving rows."""
    from pyspark.sql import functions as F

    from docling_japanese_books_spark.queries.relational import tfan

    df = tfan(spark, SF, "documents").filter(F.col("doc_id") < 100)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln)
    filt = next(i for i, ln in enumerate(lines) if "Filter" in ln)
    scan = next(i for i, ln in enumerate(lines) if "FileScan parquet" in ln)
    assert exchange < filt < scan, lines
    assert "LessThan(doc_id,100)]" in lines[scan], lines[scan]


def test_q3_broadcasts_never_sortmerge(plans):
    p = plans("q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p  # top-10 without global sort


def test_q3_forces_broadcast_on_customer_only(spark):
    # Exactly ONE broadcast hint, and it must sit on the customer scan —
    # filtered orders is ~half the orders table, and a forced broadcast of
    # the orders⋈customer output is an OOM at 100× (round-2 verdict #2).
    # At sf0.001 sizes the physical plan can't tell forced from size-based
    # broadcast, so pin the analyzed logical plan's hints instead.
    df = entry.queries()["q3_shipping_priority"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = [
        ln for ln in analyzed.splitlines() if "ResolvedHint" in ln
    ]
    assert len(hints) == 1, f"expected 1 broadcast hint, got: {hints}"
    # the hinted subtree is the customer relation, not a join output
    idx = analyzed.index("ResolvedHint")
    assert "Join" not in analyzed[idx : analyzed.index("c_custkey", idx)]


def test_topk_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans("emb_cosine_topk")


def test_semi_and_anti_joins(spark, plans):
    assert "LeftAnti" in plans("customers_without_orders")
    # LeftSemi shape (the retired customers_with_orders query's only
    # unique property) pinned inline: dedup_exact's keeper join
    from docling_japanese_books_spark.operators.dedup import dedup_exact

    df = spark.read.parquet(f"{SF}/documents.parquet")
    semi_plan = (
        dedup_exact(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in semi_plan


def test_enrichment_join_broadcasts(plans):
    assert "BroadcastHashJoin" in plans("chunk_image_enrichment")


def test_extraction_single_python_stage(plans):
    # one ArrowEvalPython: the UDF must not be duplicated into injected filters
    assert plans("extract_roundtrip").count("ArrowEvalPython") == 1
    assert plans("chunk_simple").count("ArrowEvalPython") == 1
    # the OOXML roundtrips project fields out of one struct-valued UDF —
    # projection collapse must not re-evaluate the UDF per field
    assert plans("docx_real_roundtrip").count("ArrowEvalPython") == 1
    assert plans("pptx_real_roundtrip").count("ArrowEvalPython") == 1


def test_extraction_column_pruning(spark):
    from docling_japanese_books_spark.extraction.html import extract_pages
    from docling_japanese_books_spark.extraction.pages import PAGES_SCHEMA
    from pyspark.sql import functions as F
    import tempfile, shutil

    d = tempfile.mkdtemp()
    try:
        spark.createDataFrame([], PAGES_SCHEMA).write.parquet(f"{d}/pages")
        pages = spark.read.parquet(f"{d}/pages")
        agg = extract_pages(pages).groupBy("extracted.status").agg(F.count("*"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema: struct<html:binary>" in plan  # only html is read
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_late_chunking_single_python_stage(plans):
    # the whole late-chunking text path is ONE mapInPandas stage with no
    # shuffle of its output and no duplicated Python evaluation. (r8: the
    # scan below it may carry the adaptive fan-out Exchange — that sits
    # UNDER the Python stage, i.e. later in the plan text, and disappears
    # at real input sizes; what must stay impossible is an Exchange ABOVE
    # the map stage, which would shuffle chunk text.)
    p = plans("late_chunking_stub")
    assert p.count("MapInPandas") == 1
    above = p.split("MapInPandas")[0]
    assert "Exchange" not in above  # nothing shuffles the map output


def test_structural_chunker_single_python_stage(plans):
    assert plans("chunk_structural").count("ArrowEvalPython") == 1


def test_pdf_real_roundtrip_fused_single_stage(plans):
    # writer UDF + decoder UDF fuse into ONE ArrowEvalPython stage with no
    # shuffle: the PDF bytes never cross an exchange, and neither UDF is
    # duplicated into injected filters
    p = plans("pdf_real_roundtrip")
    assert p.count("ArrowEvalPython") == 1
    # r8: the adaptive scan fan-out may add an Exchange BELOW the Python
    # stage (source text only, gone at real input sizes); the PDF bytes
    # the UDF emits must still never cross one
    assert "Exchange" not in p.split("ArrowEvalPython")[0]


def test_minhash_lsh_banded_join_is_slim(plans):
    # the banded self-join must not carry the 64-long signature through any
    # exchange: signatures re-attach to surviving pairs only (narrow joins)
    p = plans("dedup_minhash_lsh")
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "sig" not in line, f"signature shuffled: {line.strip()[:120]}"


def test_asof_join_is_join_free(plans):
    # the as-of join is union + carry-forward window: ONE exchange on the
    # key, and no join operator of any kind in the physical plan
    p = plans("events_asof_join")
    assert "Join" not in p, "asof join must not degenerate into a join"
    assert "Window" in p


def test_ivf_plan_size_independent_of_cells_and_dims(spark):
    # centroids ride in the pandas-UDF closure, NOT the plan: a 64-cell
    # 512-dim index must produce the same-shaped plan as a 4-cell 8-dim
    # one (the round-3 literal-array formulation emitted ~cells x dims
    # plan nodes and died in Catalyst analysis at production sizes)
    import numpy as np
    from pyspark.sql import functions as F
    from docling_japanese_books_spark.operators.similarity import topk_ivf

    def plan_len(n_cells: int, dim: int) -> int:
        rng = np.random.RandomState(0)
        cents = rng.randn(n_cells, dim)
        # dim-sized vectors built from sequence(), NOT literals, so the
        # fixture itself contributes O(1) plan text
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (i + F.col("id")).cast("float"),
        )
        qdf = spark.range(2).select(
            F.col("id").alias("query_id"), vec.alias("embedding")
        )
        cdf = spark.range(10).select(
            F.col("id").alias("vec_id"), vec.alias("embedding")
        )
        out = topk_ivf(
            qdf, cdf, dim=dim, k=3, n_cells=n_cells, n_probe=2, centroids=cents
        )
        return len(out._jdf.queryExecution().optimizedPlan().toString())

    small, big = plan_len(4, 8), plan_len(64, 512)
    assert big < small + 2_000, f"plan grew with cells x dims: {small} -> {big}"


def test_codec_roundtrips_single_python_stage(plans):
    # each codec roundtrip is ONE ArrowEvalPython projection over the
    # scan — no shuffle, no duplicated UDF evaluation: at 100 TB these
    # run as pure map stages
    for name in ("jpeg_pixel_roundtrip", "wav_audio_roundtrip",
                 "png_pixel_roundtrip", "tiff_pixel_roundtrip",
                 "avi_video_roundtrip"):
        p = plans(name)
        assert p.count("ArrowEvalPython") == 1, name
        # r8: scan fan-out Exchange may sit below the UDF; the synthesized
        # media bytes above it must never cross an exchange
        assert "Exchange" not in p.split("ArrowEvalPython")[0], name


def test_snapshot_time_travel_single_window_shuffle(plans):
    # live-partition selection = one hash exchange on bucket + one window;
    # no join, no extra shuffle
    p = plans("snapshot_time_travel")
    assert p.count("Exchange") == 1
    assert "Window" in p and "Join" not in p


def test_interval_join_is_equi_join(plans):
    # bucketized layout: hash-join on (key, bucket), never a nested-loop
    # range join or cartesian product
    p = plans("events_interval_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_paragraph_dedup_first_occurrence_is_aggregated(spark):
    """dedup_paragraphs (round 6): first occurrence per paragraph hash is
    a partial-aggregable min(struct), never a row_number() window on the
    corpus-wide hash key — a boilerplate paragraph repeated 10M times
    combines map-side instead of landing in one window task. argmax
    queries (best_doc_per_source) carry the same max(struct) shape."""
    from docling_japanese_books_spark.operators.dedup import dedup_paragraphs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        dedup_paragraphs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "row_number" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower() or (
        "min(" in plan
    )
    from docling_japanese_books_spark.queries import REGISTRY

    best_plan = (
        REGISTRY["best_doc_per_source"].fn(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "row_number" not in best_plan and "Window" not in best_plan


def test_substring_dedup_detection_is_declarative(spark):
    """The ExactSubstr detection half (round-6 shape): the exact gram
    stage is pure codegen; the winnowing prefilter adds exactly one
    Arrow stage; first-occurrence is a partial-aggregable min(struct) +
    join — NO row_number() window on the corpus-wide hash key anywhere
    (the round-5 skew flag). Reassembly adds one more Arrow stage."""
    from docling_japanese_books_spark.operators.dedup import (
        dedup_exact_substrings,
        duplicate_substring_spans,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bare = duplicate_substring_spans(docs, min_len=40, prefilter=False)
    bare.collect()  # AQE resolves stage reuse at execution time
    bare_plan = bare._jdf.queryExecution().executedPlan().toString()
    # identical self-join sides share ONE gram exchange: the gram stage
    # (scan -> chunk -> hash UDF -> explode -> shuffle) materializes once
    assert "ReusedExchange" in bare_plan
    spans_plan = (
        duplicate_substring_spans(docs, min_len=40)
        ._jdf.queryExecution().executedPlan().toString()
    )
    full_plan = (
        dedup_exact_substrings(docs, min_len=40)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for plan in (bare_plan, spans_plan, full_plan):
        # Arrow-batched stages only (gram hasher / anchors / span cut) —
        # never a row-at-a-time Python UDF
        assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
        # first-occurrence ranking is the leftsemi self-join on the
        # 128-bit gram key, forced to sort-merge (broadcasting a gram
        # table is never right and defeats identical-side exchange
        # reuse); the only windows left are per-doc island merges
        assert "row_number" not in plan
        assert "LeftSemi" in plan and "SortMergeJoin" in plan
        # the gram shuffle carries 8-byte hash keys, not window strings
        assert "hashpartitioning(_h1" in plan
