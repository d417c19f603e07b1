"""Dataset-assembly queries: deterministic splits, stratified sampling,
sequence packing — the corpus -> training-run operators (task brief;
absent from the reference, which embeds whole corpora)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import hash_split, pack_sequences, stratified_sample
from .relational import query, r6, t, tfan

_B = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000"


@query(
    "doc_hash_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_B} < 980000 THEN 'train'
                WHEN {_B} < 990000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test split: a pure function of the
    document id (md5-prefix bucket), so assignment is identical across
    runs, partitionings, and engines — the anti-contamination property
    randomSplit lacks. Oracle reproduces the bucket arithmetic exactly."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs)


@query(
    "doc_stratified_sample",
    f"""
    SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS stratum
    FROM documents
    WHERE ({_B} < CASE CAST(doc_id % 3 AS VARCHAR)
                  WHEN '0' THEN 500000
                  WHEN '1' THEN 200000
                  ELSE 1000000 END)
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling (0.5 / 0.2 / 1.0 across three
    synthetic strata): keep a row iff its id's hash bucket falls under the
    stratum's fraction — reproducible row-for-row, unlike sampleBy."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 3).cast("string").alias("stratum")
    )
    return stratified_sample(
        docs, {"0": 0.5, "1": 0.2, "2": 1.0}, stratum_col="stratum"
    )


@query(
    "doc_domain_mixture",
    f"""
    WITH d AS (
      SELECT doc_id,
             'host' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS domain
      FROM documents),
    cnt AS (SELECT domain, count(*) AS n_docs FROM d GROUP BY domain),
    plan AS (
      SELECT domain, n_docs,
             least(1.0, 200 * (sqrt(n_docs)
                               / (SELECT sum(sqrt(n_docs)) FROM cnt))
                        / n_docs) AS keep_prob
      FROM cnt),
    kept AS (
      SELECT d.domain, count(*) AS n_kept
      FROM d JOIN plan USING (domain)
      WHERE {_B} < CAST(floor(keep_prob * 1000000) AS BIGINT)
      GROUP BY d.domain)
    SELECT p.domain, p.n_docs, coalesce(k.n_kept, 0) AS n_kept,
           round(p.keep_prob, 6) AS keep_prob
    FROM plan p LEFT JOIN kept k USING (domain)
    """,
)
def doc_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed domain mixing (operators/mixing.py — the
    mBERT/XLM-R ``p_d ** alpha`` sampling rule at alpha = 0.5): one
    grouped count builds the per-domain plan, keep_prob rides back as a
    broadcast, and each row's fate is the deterministic md5 bucket of its
    id — no corpus shuffle, reproducible row-for-row. The realized
    per-domain kept counts depend on every row's hash, so the oracle
    (which replays plan + bucket rule in DuckDB) checks the sampling
    end-to-end, not just the arithmetic. Demoted from birth: the
    md5-bucket algebra is green via the in-window doc_stratified_sample
    row and the grouped-agg shape via orders_rollup; saturation and
    flattening semantics are pinned by tests/test_sampling.py."""
    from ..operators.mixing import temperature_mix, temperature_mix_plan

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example"),
        ).alias("domain"),
    )
    plan = temperature_mix_plan(docs, "domain", alpha=0.5, target_total=200.0)
    kept = (
        temperature_mix(docs, "domain", plan=plan)
        .groupBy("domain")
        .agg(F.count("*").alias("n_kept"))
    )
    return plan.join(kept, "domain", "left").select(
        "domain",
        "n_docs",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        r6(F.col("keep_prob")).alias("keep_prob"),
    )


@query("chunk_pack_sequences")
def chunk_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fixed-budget sequence packing over word chunks (training-run
    assembly). Rows-only: the sequential first-fit packing is pinned by
    tests/test_sampling.py; digest columns keep the output hashable."""
    from ..operators.chunking import chunk_documents

    chunks = chunk_documents(
        tfan(spark, sf_dir, "documents"), method="words", max_chunk_length=120
    )
    packed = pack_sequences(chunks, budget=64)
    return packed.select(
        "doc_id",
        "seq_index",
        "n_tokens",
        "n_chunks",
        F.sha2("text", 256).alias("text_sha"),
    )


@query(
    "emb_quantize_int8",
    """
    WITH base AS (
      SELECT vec_id,
             greatest(list_aggregate(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0,
                      1e-12) AS scale,
             embedding
      FROM embeddings),
    q AS (
      SELECT vec_id, scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER)) AS qv,
             embedding
      FROM base)
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           list_aggregate(list_transform(qv, x -> CAST(abs(x) AS BIGINT)),
                          'max') AS q_absmax,
           round(
             list_aggregate(
               list_transform(range(1, len(embedding) + 1),
                 i -> pow(CAST(embedding[i] AS DOUBLE)
                          - qv[i] * scale, 2)),
               'sum') / len(embedding), 6) AS mse
    FROM q
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real int8 symmetric quantization (A14 beyond the reference's
    analytical tables, quantization_analysis.py:110-247): per-vector scale,
    quantized-array digest, and measured reconstruction MSE — the oracle
    reproduces the arithmetic element-for-element."""
    from ..operators.quantize import (
        dequantize_int8,
        int8_scale,
        quantize_int8,
        reconstruction_mse,
    )

    emb = tfan(spark, sf_dir, "embeddings")
    scale = int8_scale(F.col("embedding"))
    out = emb.select("vec_id", scale.alias("_scale"), "embedding").select(
        "vec_id",
        "_scale",
        quantize_int8(F.col("embedding"), F.col("_scale")).alias("_q"),
        "embedding",
    )
    return out.select(
        "vec_id",
        F.round("_scale", 6).alias("scale"),
        F.aggregate("_q", F.lit(0), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            F.transform("_q", lambda x: F.abs(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: F.greatest(acc, x),
        ).alias("q_absmax"),
        F.round(
            reconstruction_mse(
                F.col("embedding"), dequantize_int8(F.col("_q"), F.col("_scale"))
            ),
            6,
        ).alias("mse"),
    )


@query(
    "doc_pii_redaction",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com at 192.168.0.' || CAST(doc_id % 255 AS VARCHAR)
                  || ' tel +1 (555) 123-4567.' AS text
      FROM documents),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
               '\+?[0-9][0-9()\-\. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS emails,
             len(regexp_extract_all(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                 '\+?[0-9][0-9()\-\. ]{7,}[0-9]')) AS phones,
             len(regexp_extract_all(text,
                 '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ips
      FROM aug)
    SELECT doc_id, sha256(redacted) AS redacted_sha, emails, phones, ips FROM red
    """,
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (pre-training hygiene): emails -> <EMAIL>, IPv4 -> <IP>,
    phone-ish runs -> <PHONE>, in that order (IPs would otherwise match the
    phone pattern). PII is synthesized into every row inside the plan so
    the redaction is exercised on each document; the oracle replays the
    same regexp_replace chain."""
    from ..operators.textstats import pii_counts, redact_pii

    docs = tfan(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 192.168.0."),
            (F.col("doc_id") % 255).cast("string"),
            F.lit(" tel +1 (555) 123-4567."),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return aug.select(
        "doc_id",
        F.sha2(redact_pii(F.col("text")), 256).alias("redacted_sha"),
        counts.getField("emails").alias("emails"),
        counts.getField("phones").alias("phones"),
        counts.getField("ips").alias("ips"),
    )


@query(
    "doc_repetition_stats",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || chr(10) || 'line one' || chr(10) || 'line one'
                  || chr(10) || 'line two' AS text
      FROM documents),
    lines AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls,
             text
      FROM aug),
    toks AS (
      SELECT doc_id, ls,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS ts
      FROM lines)
    SELECT doc_id,
           round(CASE WHEN len(ls) > 0
                 THEN 1.0 - len(list_distinct(ls)) * 1.0 / len(ls)
                 ELSE 0.0 END, 6) AS dup_line_frac,
           round(CASE WHEN len(ts) > 0
                 THEN list_max(list_transform(list_distinct(ts),
                        w -> len(list_filter(ts, t -> t = w)))) * 1.0 / len(ts)
                 ELSE 0.0 END, 6) AS top_word_frac
    FROM toks
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rules (training-corpus quality): duplicate-
    line fraction and most-frequent-token fraction, as pure array algebra.
    Duplicate lines are synthesized into every row so the rule is exercised
    on each document; the oracle replays the list arithmetic."""
    from ..operators.textstats import duplicate_line_fraction, top_word_fraction

    docs = tfan(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nline one\nline one\nline two")
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        r6(duplicate_line_fraction(F.col("text"))).alias("dup_line_frac"),
        r6(top_word_fraction(F.col("text"))).alias("top_word_frac"),
    )


@query(
    "doc_decontaminate",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS ts
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ts) >= 5
                    THEN list_transform(range(1, len(ts) - 3),
                           i -> array_to_string(list_slice(ts, i, i + 4), ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS g
      FROM tok),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5),
    hits AS (
      SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench USING (g))
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py — the
    GPT-3/PaLM exact n-gram overlap rule, corpus x benchmark, broadcast
    probe with no corpus shuffle). The benchmark here is the first five
    documents' texts (n=5 word-grams at fixture scale; 13 in production),
    so those five flag as contaminated by self-overlap and the oracle
    replays the whole tokenize/slide/overlap algebra independently."""
    from ..operators.decontaminate import flag_contaminated

    docs = tfan(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") < 5).select("text")
    return flag_contaminated(docs, benchmark, n=5).select(
        "doc_id", "contaminated"
    )


@query("doc_dsir_weights")
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py, Xie et al. 2023):
    hashed unigram+bigram bucket models for a target slice (the first 50
    documents, the same deterministic convention as doc_lm_quality) and
    the full corpus, per-document importance log-weights, and the
    deterministic Gumbel-top-100 selection flag. Rows-only: the feature
    hashing, smoothed log-probabilities, weights, and the Gumbel draw
    are each replayed exactly (1e-9/1e-12) by an independent Python
    reference in tests/test_dsir.py — stricter than a 6-dp value hash."""
    from ..operators.dsir import dsir_select, dsir_weights, ngram_logprob_model

    docs = tfan(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") < 50)
    tm = ngram_logprob_model(target, buckets=4096)
    rm = ngram_logprob_model(docs, buckets=4096)
    scored = dsir_weights(docs, tm, rm, buckets=4096)
    sel = dsir_select(scored, 100).select(
        "doc_id", F.lit(True).alias("_sel")
    )
    return (
        scored.join(sel, "doc_id", "left")
        .select(
            "doc_id",
            r6(F.col("log_weight")).alias("log_weight"),
            F.coalesce(F.col("_sel"), F.lit(False)).alias("selected"),
        )
    )
