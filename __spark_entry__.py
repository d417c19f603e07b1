"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (chunk → embed → A4 context
preservation) on sf0.001. ``queries()`` exposes every implemented operator
from SURVEY.md §2; ``oracle_sql()`` the DuckDB-checkable subset.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from docling_japanese_books_spark.queries import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["doc_context_preservation"].fn(spark, "/root/testdata/sf0.001")


# Oracle queries whose operator coverage is redundant (plain agg / window /
# top-k shapes other green queries already exercise), demoted behind the
# driver's 50-slot window. Each maps to its GREEN SURROGATES — in-window
# queries exercising the same shape; tests/test_registry.py asserts every
# surrogate is green in the latest CORRECTNESS file, so a demotion can
# never silently orphan coverage (the r2 doc_sha256 stale-surrogate
# episode, automated away).
DEMOTED: dict[str, tuple[str, ...]] = {
    # round-5 retirements (VERDICT r4 #6: retire, don't demote, redundant
    # shapes): nations_per_region, orders_priority_histogram,
    # top5_expensive_orders, doc_sha256, customers_with_orders deleted
    # outright — none carried a SURVEY §2 op, and their shapes stay green
    # via q3_shipping_priority / corpus_stats / emb_cosine_topk /
    # doc_dedup_exact / customers_without_orders (LeftSemi plan shape
    # pinned inline in tests/test_plans.py).
    # round-7 retirements (VERDICT r6 #3: recover DEMOTED headroom):
    # doc_nonempty, doc_preview, doc_chunk_estimate, events_improvement_pct,
    # doc_file_stem deleted outright — plain-shape redundancy whose
    # surrogates were long-stable; their column functions (preview,
    # file_stem, chunks_per_book, improvement_pct, the trim-nonempty
    # filter) stay pinned by tests/test_text_functions.py unit goldens.
    # fires on planted twins; cosine family green via similarity_topk_batch
    # (r6: emb_pairwise_stats surrogate was itself demoted in r5 — re-point
    # at the in-window adjacent-pair cosine flagship)
    # round-7 late retirements: best_event_type_per_user (named-column
    # argmax CASE — A8 rides the in-window best_doc_per_source row, and the
    # same CASE algebra survives verbatim inside event_type_wins' oracle)
    # and events_running_sum (plain cumulative window; sessionization runs
    # the same frame plus lag) deleted outright — neither carried a unique
    # SURVEY §2 op.
    # round-7 late retirement: emb_near_dup_pairs deleted outright (the
    # embedding-dedup flagship is the in-window semdedup_verdicts row; the
    # pair detector lives on as operators/semdedup.embedding_near_dups,
    # brute-force-pinned by tests/test_semdedup.py).
    # URL-gate verdicts, demoted from birth in its slot: host/eTLD+1
    # algebra green via url_host_normalize, flag/CASE shape via
    # doc_indicator_flags; rule semantics + broadcast plan pinned by
    # tests/test_urlfilter.py
    "doc_url_filter": ("url_host_normalize", "doc_indicator_flags"),
    # equality filter; F-family rides other greens
    "search_filtered": ("doc_indicator_flags", "q3_shipping_priority"),
    "event_type_wins": ("events_type_stats",),  # win-count agg
    # round-3 swaps: unique shapes promoted in; redundant greens out
    "emb_cosine_topk": ("similarity_topk_batch",),  # brute-force cosine top-k
    "quantization_storage": ("emb_quantize_int8",),  # A14; real kernels green
    "doc_source_histogram": ("corpus_stats",),  # richer agg, same key
    # partition-rank window
    "orders_rank_in_customer": ("similarity_topk_batch", "orders_rollup"),
    # IR-path roundtrip green via real bytes + page-cap IR parse
    "pdf_layout_roundtrip": ("pdf_real_roundtrip", "pdf_pages_capped"),
    # same UDF path green per-row; status-counter agg shape green elsewhere
    "extract_metrics": ("extract_roundtrip", "events_type_stats"),
    # round-4 swaps: jpeg_pixel_roundtrip + snapshot_time_travel (new
    # unique coverage) promoted in; redundant-coverage greens out
    # same deterministic md5-bucket assignment algebra, richer query
    "doc_hash_split": ("doc_stratified_sample",),
    # round-9 retirements (code that nothing in the pipeline, CLI or
    # window reaches is deleted): gif_pixel_roundtrip and
    # webp_pixel_roundtrip deleted outright with their codecs — both were
    # demoted from birth, the reference's only image path is PNG, and the
    # lossless-roundtrip shape stays green via png_pixel_roundtrip /
    # image_manifest. GIF/WebP bytes now take each image stage's per-row
    # failure path, pinned by tests/test_multimodal.py.
    # lossless-roundtrip shape green via the PNG row; TIFF specifics (IFD
    # walk, byte orders, PackBits, photometrics) pinned by
    # tests/test_tiff_codec.py hand-assembled fixtures — demoted from birth
    "tiff_pixel_roundtrip": ("png_pixel_roundtrip", "image_manifest"),
    # media-roundtrip shape green via the WAV row; AVI specifics (RIFF
    # lists, DIB stride/bottom-up math, real frame sampling) pinned by
    # tests/test_avi_codec.py hand-assembled fixture — demoted from birth
    "avi_video_roundtrip": ("wav_audio_roundtrip", "image_manifest"),
    # ExactSubstr window dedup: first-occurrence ranking green via the
    # exact-dedup row, the gaps-and-islands merge green via
    # sessionization; planted-banner semantics pinned by tests/test_dedup
    "dedup_substring_stats": ("doc_dedup_exact", "events_sessionization"),
    # CDXJ parse = from_json + timestamp parse + try-casts: both shapes
    # green in-window; CDX specifics pinned by tests/test_cdx.py (incl.
    # the index -> byte-range -> WARC fetch e2e)
    "cdx_parse": ("events_json_props", "events_hourly_by_type"),
    # same UDF-projection shape as the in-window extract row; charset
    # specifics pinned by tests/test_charset.py (r6: doc_japanese_confidence
    # surrogate was demoted in r5 — indicator flags carry the script algebra)
    "charset_extract": ("extract_roundtrip", "doc_indicator_flags"),
    # n-gram slide + membership join shapes green in-window; the planted
    # contamination case is pinned by tests/test_dedup.py
    "doc_decontaminate": ("dedup_ngram_jaccard", "customers_without_orders"),
    # first-occurrence window + grouped reassembly shapes green in-window;
    # the planted-banner case is pinned by tests/test_dedup.py
    "dedup_paragraphs": ("doc_dedup_exact", "events_sessionization"),
    # substr-gram algebra + quality-family agg shapes green in-window;
    # prod/declarative path equality pinned by tests/test_textstats.py
    "doc_lm_quality": ("doc_lang_quality", "dedup_ngram_jaccard"),
    # round-5 swaps: docx_real_roundtrip + pptx_real_roundtrip promoted in
    # (the last accepted-but-unparseable formats, now oracle-gated).
    # ann_ivf_persist promoted in (durable-index search, ref
    # vector_db.py:208-229); pairwise cosine mean/std algebra stays green
    # via the flagship adjacent-pair window query
    "emb_pairwise_stats": ("emb_context_preservation", "similarity_topk_batch"),
    # snapshot_delete_travel promoted in (row-level DELETE manifest
    # algebra); script-count/confidence algebra stays green via the
    # indicator-flags and lang-quality rows
    "doc_japanese_confidence": ("doc_indicator_flags", "doc_lang_quality"),
    # WET conversion-record parse rides the same record walk +
    # mapInPandas shapes as the WARC row; WET specifics (warcinfo skip,
    # no-HTTP-envelope body, utf-8 contract) pinned by tests/test_warc.py
    "wet_roundtrip": ("warc_roundtrip", "extract_roundtrip"),
    # WAT metadata-record parse rides the same record walk + JSON-parse +
    # explode shapes as the WARC and events-JSON rows; WAT specifics
    # (envelope navigation, warcinfo/malformed-JSON skip) and the
    # link-graph aggregates are pinned by tests/test_warc.py +
    # tests/test_linkgraph.py — demoted from birth
    "wat_links": ("warc_roundtrip", "events_json_props"),
    # CCNet head/middle/tail bucketing: the LM-score algebra is green via
    # the in-window doc_lang_quality row (same textstats family) and the
    # cumulative-window CDF shape via events_sessionization; bucket
    # boundary semantics pinned by tests/test_textstats.py — demoted from
    # birth
    "doc_perplexity_buckets": ("doc_lang_quality", "events_sessionization"),
    # temperature-mixing: the deterministic md5-bucket keep rule is green
    # via the in-window doc_stratified_sample row, the per-domain plan agg
    # via orders_rollup; alpha/saturation semantics pinned by
    # tests/test_sampling.py — demoted from birth
    "doc_domain_mixture": ("doc_stratified_sample", "orders_rollup"),
    # host PageRank: each power iteration is the same contribution-join +
    # grouped-sum shape the in-window join/agg rows keep green; dangling
    # and convergence semantics pinned by tests/test_linkgraph.py —
    # demoted from birth
    "wat_host_pagerank": ("q3_shipping_priority", "corpus_stats"),
    # Gopher rule battery: map-only regexp algebra, the shape the
    # in-window doc_lang_quality / doc_token_stats rows keep green;
    # per-rule boundaries pinned by tests/test_textstats.py — demoted
    # from birth
    "doc_gopher_rules": ("doc_lang_quality", "doc_token_stats"),
    # C4 line/page cleaning: split/filter/rejoin array algebra, the shape
    # the in-window sentence_split / doc_token_stats rows keep green; rule
    # boundaries pinned by tests/test_c4.py — demoted from birth.
    # (doc_quality_score retired to make the slot: its composite formula
    # is unit-golden-pinned and the quality family rides doc_lang_quality
    # + doc_gopher_rules.)
    "doc_c4_clean": ("sentence_split", "doc_token_stats"),
    # round-7 swap: semdedup_verdicts promoted in (embedding-level dedup —
    # new unique coverage); exact-quantile agg is a plain single-group
    # aggregate whose grouped-agg shape rides the rollup and mean/std rows
    # (percentile specifics have no SURVEY §2 op of their own)
    "order_price_quantiles": ("orders_rollup", "events_type_stats"),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Oracle-backed queries are listed first (stable within each group): the
    correctness harness checks a bounded prefix of this dict, so the
    SQL-checkable queries must all land inside that window and the
    rows-only ones go to the tail. Queries in DEMOTED (redundant operator
    coverage, each with named green surrogates) sort to the end of the
    oracle group so unique-coverage queries never fall out of the window."""

    def key(kv):
        name, qd = kv
        if qd.oracle is None:
            return 2
        return 1 if name in DEMOTED else 0

    ordered = sorted(REGISTRY.items(), key=key)
    return {name: qd.fn for name, qd in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    return {name: qd.oracle for name, qd in REGISTRY.items() if qd.oracle}
