"""Training-corpus curation: the end-to-end post-extraction pass that turns
raw extracted pages into an LLM-training-ready corpus.

    extracted pages
      -> optional URL gate (operators/urlfilter.py — UT1-style domain
         blocklist + blocked subwords + soft-word score; runs BEFORE any
         text stage so blocked pages never pay the normalize UDF)
      -> NFKC normalization (X12)
      -> optional C4 line/page cleaning (operators/c4.py — rewrites text
         to the retained lines, drops failing pages)
      -> language id + quality scoring (textstats)
      -> quality gate (+ optional Gopher rule battery, + optional
         learned-classifier gate, quality_clf)
      -> exact dedup (sha256 of normalized text, lowest url wins)
      -> near-dup removal (MinHash LSH, keep lexicographically-first url)
      -> optional semantic dedup (SemDeDup: stub-embedding clusters,
         drop cosine->=tau neighbors of a smaller url)
      -> optional ExactSubstr cut (Lee et al. window rule: duplicated
         >=min_len-char spans removed, first corpus occurrence survives;
         adaptive prefilter + single anchor pass via a local checkpoint)
      -> optional DSIR selection (operators/dsir.py: Gumbel-top-k over
         importance log-weights toward a target corpus — last, so it
         selects from clean, deduped text)
      -> curated corpus + per-stage survival report

Every stage is a DataFrame transform; the report is a tiny aggregate over
stage tags, so the whole thing is one job with two shuffles (the two dedup
key exchanges) regardless of corpus size.
"""

from __future__ import annotations

from dataclasses import dataclass


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_candidates
from ..operators.normalize import normalize_cjk_udf
from ..operators.textstats import lang_id, quality_score


@dataclass
class CurationReport:
    rows_in: int
    rows_quality_pass: int
    rows_after_exact_dedup: int
    rows_after_near_dedup: int
    # optional stages (None = stage not enabled)
    rows_url_pass: "int | None" = None
    rows_c4_pass: "int | None" = None
    rows_gopher_pass: "int | None" = None
    rows_model_quality_pass: "int | None" = None
    rows_after_semantic_dedup: "int | None" = None
    rows_after_substring_cut: "int | None" = None
    substring_chars_removed: "int | None" = None
    # ExactSubstr prefilter selectivity forensics (adaptive mode):
    # fraction of all min_len-windows inside candidate anchor ranges, and
    # which path ran ("prefilter" | "bare")
    substring_candidate_fraction: "float | None" = None
    substring_path: "str | None" = None
    rows_after_dsir: "int | None" = None


def curate_corpus(
    extracted: DataFrame,
    min_quality: float = 0.3,
    min_chars: int = 50,
    near_dup_threshold: float = 0.85,
    url_col: str = "url",
    text_col: str = "text",
    url_blocked_domains=None,
    url_blocked_subwords=(),
    url_soft_words=None,
    url_soft_threshold: float = 2.0,
    gopher: bool = False,
    gopher_repetition: bool = False,
    c4: bool = False,
    model_quality_min: "float | None" = None,
    model_sample_size: int = 200,
    substring_min_len: "int | None" = None,
    substring_adaptive: "float | None" = 0.5,
    semantic_tau: "float | None" = None,
    semantic_clusters: int = 8,
    dsir_target: "DataFrame | None" = None,
    dsir_keep: "int | None" = None,
    dsir_buckets: int = 4096,
) -> tuple[DataFrame, CurationReport]:
    """Returns (curated corpus, survival report). Deterministic: survivors
    of each dedup stage are the minimum-url member of every duplicate set.

    Single-pass discipline: the normalize/quality UDF stage is
    local-checkpointed, so it executes exactly ONCE no matter how many
    report counts and dedup stages read it (a bare lineage would rerun the
    Python UDFs per action — the scale-killer at 100 TB). The returned
    frame is local-checkpointed and already materialized by the stage
    counts, so writing it does not recompute the pipeline. Every
    checkpoint belongs to the returned plan, not to the session: the call
    leaves no cache for the caller, or an error path, to release. Local
    checkpoints are not fault-tolerant; at cluster scale, substitute a
    reliable checkpoint or a table write."""
    # optional stage 0 — the URL gate. Pure column algebra + broadcast
    # blocklist joins over the RAW input, ahead of every Python stage:
    # a page a nanosecond URL check kills must never pay the normalize
    # UDF (the accumulator pin asserts exactly that). Costs one extra
    # map-only, url-column-pruned scan of the source for the in/pass
    # counts — nothing else reads the unfiltered input.
    rows_url = None
    url_rows_in = None
    if url_blocked_domains or url_blocked_subwords or url_soft_words:
        from ..operators.urlfilter import url_filter_verdicts

        verdicts = url_filter_verdicts(
            extracted,
            blocked_domains=url_blocked_domains or (),
            blocked_subwords=url_blocked_subwords,
            soft_words=url_soft_words,
            soft_threshold=url_soft_threshold,
            url_col=url_col,
        )
        counts = verdicts.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias(
                "k"
            ),
        ).collect()[0]
        url_rows_in, rows_url = int(counts.n), int(counts.k)
        extracted = verdicts.filter(F.col("keep")).drop(
            "host",
            "etld1",
            "domain_blocked",
            "subword_blocked",
            "soft_score",
            "keep",
        )
    normalized = extracted.withColumn(text_col, normalize_cjk_udf(F.col(text_col)))
    # optional C4 cleaning (operators/c4.py): pure column algebra over the
    # normalized text, so it folds into the same checkpointed stage — text is
    # rewritten to the retained lines for pages that pass, downstream
    # scores see the CLEANED text, and the page verdict joins the gate
    c4_col = None
    if c4:
        from ..operators.c4 import c4_signals

        normalized = normalized.withColumn(
            "_c4", c4_signals(F.col(text_col))
        ).withColumn(
            text_col,
            F.when(F.col("_c4.kept"), F.col("_c4.text")).otherwise(
                F.col(text_col)
            ),
        )
        c4_col = F.col("_c4.kept")
    scored = normalized.withColumn("lang_guess", lang_id(F.col(text_col))).withColumn(
        "quality", quality_score(F.col(text_col))
    )
    gate = (F.col("quality") >= min_quality) & (F.length(text_col) >= min_chars)
    if c4_col is not None:
        gate_with_c4 = gate & c4_col
    else:
        gate_with_c4 = gate
    # optional Gopher battery (textstats.gopher_rules): folded into the
    # same gate stage and the same single head aggregate — still one pass,
    # zero extra jobs; rows_gopher_pass counts survivors of BOTH gates
    full_gate = gate_with_c4
    if gopher:
        from ..operators.textstats import gopher_rules

        full_gate = full_gate & gopher_rules(F.col(text_col)).getField(
            "passes"
        )
    # the repetition half of the published Gopher filter (dup lines/
    # paragraphs, top/dup n-gram char fractions) — a pandas UDF, but it
    # rides the same checkpointed gate stage, so still one corpus pass
    if gopher_repetition:
        from ..operators.textstats import gopher_repetition_rules

        full_gate = full_gate & gopher_repetition_rules(
            F.col(text_col)
        ).getField("rep_passes")
    scored = scored.localCheckpoint(eager=False)

    # rows_in + quality survivors in ONE aggregate; it materializes the
    # checkpointed stage
    head = scored.agg(
        F.count("*").alias("rows_in"),
        F.coalesce(F.sum(gate.cast("long")), F.lit(0)).alias("rows_quality"),
        F.coalesce(F.sum(full_gate.cast("long")), F.lit(0)).alias("rows_full"),
        F.coalesce(
            F.sum(c4_col.cast("long")) if c4_col is not None else F.lit(0),
            F.lit(0),
        ).alias("rows_c4"),
    ).collect()[0]
    gated = scored.filter(full_gate)
    if c4:
        gated = gated.drop("_c4")

    # optional learned-quality gate (quality_clf): train self-supervised
    # on a bounded hash-ordered sample of the heuristic survivors (reads
    # the checkpoint), then score every survivor in one Arrow stage.
    # Checkpointed so the scoring UDF — like the normalize UDF — runs once
    # across the dedup counts and the final write.
    rows_model = None
    if model_quality_min is not None:
        from ..operators.quality_clf import quality_score_udf, self_supervised_model

        dim = 1 << 14
        w, b = self_supervised_model(
            gated, text_col=text_col, sample_size=model_sample_size,
            dim=dim, id_col=url_col,
        )
        gated = gated.withColumn(
            "model_quality", quality_score_udf(w, b, dim)(F.col(text_col))
        ).filter(F.col("model_quality") >= model_quality_min).localCheckpoint(
            eager=False
        )
        rows_model = gated.count()

    # exact dedup: hash in the projection, min(url) per hash survives
    hashed = gated.withColumn("_h", F.sha2(F.col(text_col), 256))
    keepers = hashed.groupBy("_h").agg(F.min(url_col).alias(url_col))
    exact = hashed.join(keepers, [url_col], "left_semi").drop("_h")
    rows_exact = exact.count()  # reads the checkpoint, no UDF recompute

    # near-dup: LSH candidate pairs above threshold; drop the larger url of
    # each pair (transitive chains collapse to the smallest member greedily)
    pairs = minhash_lsh_candidates(
        exact, text_col=text_col, id_col=url_col, threshold=near_dup_threshold
    )
    losers = pairs.select(F.col("id_b").alias(url_col)).distinct()
    curated = exact.join(losers, [url_col], "left_anti").localCheckpoint(
        eager=False
    )
    rows_near = curated.count()  # materializes the returned frame

    # optional semantic dedup (SemDeDup, Abbas et al. 2023): embed the
    # lexical survivors with the deterministic stub embedder, cluster on
    # deterministic centroids (k smallest urls), and drop every document
    # with a smaller-url same-cluster neighbor at cosine >= semantic_tau —
    # catches templated rewrites / paraphrases that shingle-level MinHash
    # misses. The embedding frame is checkpointed because the centroid
    # pick and semdedup's assignment both read it.
    rows_sem = None
    if semantic_tau is not None:
        from ..operators.embedding import embed_udf
        from ..operators.semdedup import first_k_centroids, semdedup

        emb = curated.select(
            F.col(url_col), embed_udf()(F.col(text_col)).alias("_emb")
        ).localCheckpoint(eager=False)
        cents = first_k_centroids(
            emb, semantic_clusters, id_col=url_col, vec_col="_emb"
        )
        verdicts = semdedup(
            emb, cents, tau=semantic_tau, id_col=url_col, vec_col="_emb"
        )
        curated = curated.join(
            verdicts.filter(F.col("kept")).select(url_col), [url_col], "left_semi"
        ).localCheckpoint(eager=False)
        rows_sem = curated.count()

    # optional ExactSubstr cut (Lee et al. 2021 window rule): duplicated
    # >=substring_min_len-char spans are removed corpus-wide, first
    # occurrence (lowest url, position) surviving intact; rows whose text
    # is entirely boilerplate drop out. Reads the checkpointed near-dup
    # survivors, so the gram/anchor stages never recompute the UDF chain.
    rows_cut = None
    chars_removed = None
    substr_stats: dict = {}
    if substring_min_len is not None:
        from ..operators.dedup import dedup_exact_substrings

        chars_before = curated.agg(
            F.coalesce(F.sum(F.length(text_col)), F.lit(0))
        ).collect()[0][0]
        # adaptive_fallback switches to the bare gram path when anchors
        # mark most of the corpus as candidate (prefilter overhead exceeds
        # its savings past ~50% coverage)
        cut = dedup_exact_substrings(
            curated,
            min_len=substring_min_len,
            id_col=url_col,
            text_col=text_col,
            adaptive_fallback=substring_adaptive,
            stats_out=substr_stats,
        )
        curated = (
            curated.drop(text_col)
            .join(cut, url_col)
            .filter(F.length(text_col) > 0)
            .localCheckpoint(eager=False)
        )
        stats = curated.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.length(text_col)), F.lit(0)).alias("chars"),
        ).collect()[0]
        rows_cut = int(stats.n)
        chars_removed = int(chars_before) - int(stats.chars)

    # optional DSIR selection (Xie et al. 2023): keep the dsir_keep
    # survivors whose hashed-n-gram distribution looks most like the
    # TARGET corpus, by Gumbel-top-k over importance log-weights — runs
    # LAST so it selects from already-clean, already-deduped text (the
    # published order: filter, dedup, then select toward the target).
    # The two bucket models are <= dsir_buckets rows and broadcast; the
    # weight pass is one id shuffle over the survivors.
    rows_dsir = None
    if dsir_target is not None and dsir_keep is not None:
        from ..operators.dsir import (
            dsir_select,
            dsir_weights,
            ngram_logprob_model,
        )

        tm = ngram_logprob_model(
            dsir_target, text_col=text_col, buckets=dsir_buckets
        )
        rm = ngram_logprob_model(
            curated, text_col=text_col, buckets=dsir_buckets
        )
        scored_w = dsir_weights(
            curated, tm, rm, id_col=url_col, text_col=text_col,
            buckets=dsir_buckets,
        )
        picked = dsir_select(
            scored_w, dsir_keep, id_col=url_col
        ).select(url_col, "log_weight")
        curated = curated.join(picked, url_col).localCheckpoint(eager=False)
        rows_dsir = curated.count()

    report = CurationReport(
        # with the URL gate on, rows_in is the PRE-gate count (the head
        # aggregate only ever sees gate survivors)
        rows_in=url_rows_in if url_rows_in is not None else int(head.rows_in),
        rows_url_pass=rows_url,
        rows_quality_pass=int(head.rows_quality),
        rows_c4_pass=int(head.rows_c4) if c4 else None,
        rows_gopher_pass=(
            int(head.rows_full) if (gopher or gopher_repetition) else None
        ),
        rows_after_exact_dedup=rows_exact,
        rows_after_near_dedup=rows_near,
        rows_model_quality_pass=rows_model,
        rows_after_semantic_dedup=rows_sem,
        rows_after_substring_cut=rows_cut,
        substring_chars_removed=chars_removed,
        substring_candidate_fraction=substr_stats.get("candidate_fraction"),
        substring_path=substr_stats.get("path"),
        rows_after_dsir=rows_dsir,
    )
    return curated, report
