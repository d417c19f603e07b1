"""Driver-checkable query inventory (SURVEY.md §2), one named query per
operator, each with a DuckDB oracle where ANSI-SQL-expressible.

Conventions (driver compare is row-count + schema + order-insensitive
value-hash with columns sorted by name):
- every computed column aliased identically in Spark and SQL;
- float math computed in DOUBLE and rounded to 6 dp on BOTH sides;
- timestamps in outputs rendered as 'yyyy-MM-dd HH:mm:ss' strings (UTC)
  so engine-internal representations can't diverge;
- top-k queries carry a unique-key tie-break so order-insensitive hashing
  still sees a deterministic row set.

Scale notes are in each query's docstring: the same plan at 100 TB, what
shuffles, what broadcasts.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, NamedTuple, Optional
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.vectors import cosine


class QueryDef(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, or None for rows-only check


REGISTRY: Dict[str, QueryDef] = {}


def query(name: str, oracle: Optional[str] = None):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


# Resolved-scan memo, keyed weakly by session so a stopped session's
# entries die with it. Holds PLAN METADATA only (unexecuted DataFrames):
# resolveRelation re-reads the parquet footer and re-lists the path on
# every spark.read.parquet call (~0.11 s warm, measured), and the bench
# rebuilds each query from scratch per rep — 1-3 scans per query made
# relation resolution the largest fixed per-rep cost. Every action on a
# memoized frame still scans parquet; no row-level data is cached. An entry
# holds the path's (st_mtime_ns, st_size) from when it was resolved, so a
# file rewritten in the same session is resolved again (one os.stat per
# call); a path os.stat cannot see (a remote URI) is not memoized.
_SCAN_MEMO: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        per = _SCAN_MEMO.setdefault(spark, {})
    except (OSError, TypeError):
        # no local file (a remote URI, or a missing path the read reports),
        # or a non-weakrefable session stand-in: skip the memo
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = per.get(path)
    if hit is None or hit[0] != stamp:
        hit = per[path] = (stamp, spark.read.parquet(path))
    return hit[1]


# Fan-out ceiling: above this estimated size the file splitter already
# hands every core a split (and a fan shuffle would move real bytes), so
# fan() leaves the frame as it is. A sub-GiB frame is always cheap to
# reshuffle once before CPU-dense work, locally or on a cluster. A source
# without size statistics estimates as Long.MaxValue, so it is never fanned.
_FAN_MAX_BYTES = 1 << 30


def tfan(spark: SparkSession, sf_dir: str, name: str, *part_cols: str) -> DataFrame:
    """``fan(t(spark, sf_dir, name), *part_cols)``: a table scan fanned out
    for CPU-dense per-row work (guide §2.5 input skew: 'one huge
    unsplittable file ... repartition immediately after the read')."""
    return fan(t(spark, sf_dir, name), *part_cols)


def fan(df: DataFrame, *part_cols: str, width: int | None = None) -> DataFrame:
    """Scale-adaptive fan-out ahead of CPU-dense per-row work.

    Small single-file parquet tables carry one row group, so the byte-range
    splitter cannot parallelize the scan: every regexp/Arrow-UDF projection
    downstream runs in ONE task (measured at sf1.0: doc_lang_quality 5.5 s
    single-task vs 1.1 s fanned on 32 cores). The fan repartitions to
    ``defaultParallelism`` — by ``part_cols`` when given (a hash exchange:
    deterministic under task retry, no sortBeforeRepartition pass, and
    reusable by a downstream shuffle on the same key), else by the first
    column (the tables' unique id, so the hash spreads evenly). Applied to
    a frame DERIVED from a table (union with planted rows, pre-wrapped
    projections, ...), a multi-branch plan gets ONE exchange instead of
    one per branch.

    Scale-adaptive: the decision reads Spark's own size estimate of the
    optimized plan. Frames above ``_FAN_MAX_BYTES``, or of unknown size,
    are returned unfanned — at real corpus sizes the scan itself yields a
    split per core and the extra shuffle would cost more than it buys.

    ``width`` caps the fan below defaultParallelism — for operators that
    materialize the fanned frame and re-read it in several small
    downstream stages (MinHash/SimHash), where per-task overhead on a
    many-partition frame costs more than the extra UDF parallelism buys
    (measured sf1.0 cold/warm: unfanned 12.0/1.1 s, width 8 -> 2.9/1.1 s,
    width 32 -> 4.6/1.5 s)."""
    nbytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if nbytes <= _FAN_MAX_BYTES:
        cols = list(part_cols) or [df.columns[0]]
        n = min(width or 1 << 30, df.sparkSession.sparkContext.defaultParallelism)
        df = df.repartition(n, *[F.col(c) for c in cols])
    return df


def r6(col):
    return F.round(col.cast("double"), 6)


# ---------------------------------------------------------------------------
# Relational core (TPC-H-shaped; generalization of J1/J3 per SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 6)                                        AS sum_qty,
           -- money sums reach 1e9+ at sf0.1: 6-decimal rounding sits below
           -- double precision there and exposes last-ulp engine diffs, so
           -- the big sums compare at cent precision
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (A1 batch-status-counter generalization).

    Scale: single hash aggregate with map-side partial agg; shuffle keyed on
    2 low-cardinality columns — AQE coalesces to a handful of partitions.
    Filter pushed to parquet scan.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        r6(F.sum("l_quantity")).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        r6(F.avg("l_quantity")).alias("avg_qty"),
        r6(F.avg("l_extendedprice")).alias("avg_price"),
        r6(F.avg("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')        AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-way join + agg + top-k.

    Scale: only customer(filtered) is genuinely small — broadcast it into
    the orders scan. Filtered orders is ~half the orders table, so forcing
    it into a broadcast would OOM at 100×; leave the orders⋈lineitem
    strategy to AQE (shuffle join on o_orderkey, skew-split if needed).
    The remaining shuffles are that join key and the final
    groupBy(l_orderkey); top-10 executes as TakeOrderedAndProject.
    """
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — the S12 delete-by-predicate rewrite
    (ref vector_db.py:422-437): DELETE = anti-join against the victim set."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "orders_rank_in_customer",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3
    """,
)
def orders_rank_in_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 per-group top-k via row_number (ref query.py:69-91 rank display).

    Scale: one shuffle on o_custkey; skewed customers handled by AQE.

    r8: small scans are fanned BY THE WINDOW KEY (tfan), so the explicit
    exchange doubles as the window's required distribution and every
    per-partition sort runs in parallel. The few-row-group base plan
    instead serializes WindowGroupLimit's pre-shuffle sort into 1-2 scan
    tasks: measured 1.39 s -> 0.58 s at sf1.0. At real scale tfan
    degrades to the base plan, keeping the map-side group-limit pruning
    that matters when shuffle bytes dominate."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        tfan(spark, sf_dir, "orders", "o_custkey")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            r6(F.col("o_totalprice")).alias("totalprice"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# Window / events (§2.9 batch-checkable parts)
# ---------------------------------------------------------------------------


# events_running_sum retired in round 7 (plain per-user cumulative window;
# events_sessionization exercises the identical frame plus lag).


@query(
    "events_hourly_by_type",
    """
    SELECT strftime(time_bucket(INTERVAL 1 hour, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n, round(sum(value), 6) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg (§2.9): the batch analog of the streaming
    watermark+window metric.

    r8: group on ``date_trunc('hour', ts)`` instead of the ``F.window``
    struct — for epoch-aligned 1-hour tumbling windows the bucket start is
    the hour truncation (UTC session TZ), so the grouping and every output
    value are identical (set-equality verified on the full sf1.0 result),
    while the TimeWindow struct generator drops out of the aggregate key
    (0.67 s -> 0.45 s at sf1.0). F.window stays the streaming-side form
    where watermarks need it."""
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), r6(F.sum("value")).alias("total_value"))
        .select(
            F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "events_json_props",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (MapType/JSON-ish props per SURVEY §1.2)."""
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@query(
    "events_type_stats",
    """
    SELECT event_type, count(*) AS n,
           round(sum(value), 6)        AS sum_value,
           round(avg(value), 6)        AS avg_value,
           round(stddev_pop(value), 6) AS std_value
    FROM events GROUP BY event_type
    """,
)
def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 summary mean±std rollup (ref embedding_evaluation.py:1119-1206)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            r6(F.sum("value")).alias("sum_value"),
            r6(F.avg("value")).alias("avg_value"),
            r6(F.stddev_pop("value")).alias("std_value"),
        )
    )


# ---------------------------------------------------------------------------
# Documents: text scalar functions, histograms, dedup
# ---------------------------------------------------------------------------


@query(
    "doc_source_histogram",
    "SELECT source, count(*) AS n, round(avg(n_chars), 6) AS avg_chars "
    "FROM documents GROUP BY source",
)
def doc_source_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/A15: per-source corpus stats (ref quantization_analysis.py:415-480)."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"), r6(F.avg("n_chars")).alias("avg_chars"))
    )


@query(
    "doc_dedup_exact",
    """
    SELECT min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 exact dedup by content hash (ref image_processor.py:113-121).

    Scale: two-phase hash aggregate on a 64-hex key; at 100 TB, hash the
    text inside the scan projection so the shuffle carries 32 bytes + id,
    never the document body."""
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", TX.sha256_hex(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .drop("h")
    )


@query(
    "doc_japanese_confidence",
    """
    SELECT doc_id,
           round(
             (CASE WHEN length(text) > 0
                   THEN (len(regexp_extract_all(text, '[぀-ゟ]'))
                       + len(regexp_extract_all(text, '[゠-ヿ]'))
                       + len(regexp_extract_all(text, '[一-龯]'))) * 1.0 / length(text)
                   ELSE 0.0 END) * 0.7
           + least(( (CASE WHEN regexp_matches(text, '(?i)(?:san|chan|kun|sama)') THEN 1 ELSE 0 END)
                   + (CASE WHEN regexp_matches(text, '(?i)(?:sushi|ramen|tempura|yakitori)') THEN 1 ELSE 0 END)
                   + (CASE WHEN regexp_matches(text, '(?i)(?:kimono|yukata|obi)') THEN 1 ELSE 0 END)
                   + (CASE WHEN regexp_matches(text, '(?i)(?:temple|shrine|torii|pagoda)') THEN 1 ELSE 0 END)
                   + (CASE WHEN regexp_matches(text, '(?i)(?:sakura|cherry blossom)') THEN 1 ELSE 0 END)
                   + (CASE WHEN regexp_matches(text, '(?i)(?:manga|anime)') THEN 1 ELSE 0 END)
                   ) * 0.2, 1.0) * 0.3
           , 6) AS jp_confidence
    FROM documents
    """,
)
def doc_japanese_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4-X6: script counting + cultural indicators + confidence formula
    (ref image_processor.py:255-305). Pure codegen'd regexp arithmetic."""
    return tfan(spark, sf_dir, "documents").select(
        "doc_id", r6(TX.japanese_confidence(F.col("text"))).alias("jp_confidence")
    )


@query(
    "doc_token_stats",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+'))          AS n_tokens,
           len(regexp_extract_all(text, '[.,;:!?。！？、]'))        AS n_punct,
           round(len(regexp_extract_all(lower(text),
             '\\b(?:the|a|an|and|or|of|to|in|is|it)\\b')) * 1.0
             / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)
             AS stopword_ratio
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis ops (training-data pipeline): whitespace token count,
    punctuation count, stopword ratio — all JVM-side regexp."""
    text = F.col("text")
    n_tokens = F.size(F.split(F.trim(text), r"\s+"))
    n_punct = F.regexp_count(text, F.lit(r"[.,;:!?。！？、]"))
    stop = F.regexp_count(
        F.lower(text), F.lit(r"\b(?:the|a|an|and|or|of|to|in|is|it)\b")
    )
    return tfan(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        r6(stop.cast("double") / F.greatest(n_tokens, F.lit(1))).alias(
            "stopword_ratio"
        ),
    )


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: whitespace-canonicalized, case-folded content
    hash (near-exact dedup key — catches reflowed/recased copies)."""
    canon = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return tfan(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(canon, 256).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Embeddings: cosine math, top-k search, window metrics (A2-A5, J2, T1)
# ---------------------------------------------------------------------------

_COS_SQL = """
    list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),
                     list_transform({b}, x -> CAST(x AS DOUBLE)))
    / NULLIF(sqrt(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),
                                   list_transform({a}, x -> CAST(x AS DOUBLE))))
           * sqrt(list_dot_product(list_transform({b}, x -> CAST(x AS DOUBLE)),
                                   list_transform({b}, x -> CAST(x AS DOUBLE)))), 0)
"""


@query(
    "emb_cosine_topk",
    f"""
    SELECT e.vec_id, round(coalesce({_COS_SQL.format(a="e.embedding", b="q.embedding")}, 0.0), 6) AS score
    FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY score DESC, e.vec_id LIMIT 5
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/T1 similarity search: query vector vs all chunks, top-5
    (ref vector_db.py:350-400 semantics, Milvus replaced by a broadcast
    cross join + TakeOrderedAndProject).

    Scale: query side is 1 row → broadcast; cosine is codegen'd array math;
    top-k never sorts globally. For query *batches* use the LSH variant.
    r8: corpus side fanned (tfan) so the cosine projection parallelizes —
    the single-row-group scan otherwise scores every vector in one task
    (0.56 s -> 0.30 s at sf1.0); the query-vector scan stays unfanned."""
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        tfan(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            r6(
                F.coalesce(cosine(F.col("embedding"), F.col("q_embedding")), F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(5)
    )


@query(
    "emb_context_preservation",
    f"""
    SELECT label,
           round(avg(cos), 6) AS context_preservation,
           count(*) + 1       AS n_vectors
    FROM (
      SELECT label, coalesce({_COS_SQL.format(a="embedding", b="nxt")}, 0.0) AS cos
      FROM (
        SELECT label, embedding,
               lead(embedding) OVER (PARTITION BY label ORDER BY vec_id) AS nxt
        FROM embeddings)
      WHERE nxt IS NOT NULL)
    GROUP BY label
    """,
)
def emb_context_preservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 context-preservation score — THE flagship window query: mean cosine
    of consecutive vector pairs per group (ref embedding_evaluation.py:678-692).

    Scale: one shuffle on the group key; lead() avoids the self-join the
    reference's loop implies."""
    w = Window.partitionBy("label").orderBy("vec_id")
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("nxt", F.lead("embedding").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "label",
            F.coalesce(cosine(F.col("embedding"), F.col("nxt")), F.lit(0.0)).alias(
                "cos"
            ),
        )
        .groupBy("label")
        .agg(
            r6(F.avg("cos")).alias("context_preservation"),
            (F.count("*") + 1).alias("n_vectors"),
        )
    )


@query(
    "emb_pairwise_stats",
    f"""
    SELECT a.label,
           round(avg({_COS_SQL.format(a="a.embedding", b="b.embedding")}), 6) AS mean_sim,
           round(stddev_pop({_COS_SQL.format(a="a.embedding", b="b.embedding")}), 6) AS std_sim
    FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
    GROUP BY a.label
    """,
)
def emb_pairwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 pairwise inter-chunk similarity mean/std within group
    (ref embedding_evaluation.py:984-996): self-join on label, i≠j.

    Scale: quadratic per group — acceptable because groups are documents
    (dozens of chunks); for corpus-wide similarity use LSH instead."""
    emb = t(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .groupBy(F.col("a.label").alias("label"))
        .agg(
            r6(F.avg(cos)).alias("mean_sim"),
            r6(F.stddev_pop(cos)).alias("std_sim"),
        )
    )


# round-7: emb_near_dup_pairs retired outright (planted-twin pair count —
# embedding-level dedup's flagship is the in-window semdedup_verdicts row;
# the pair-detector semantics moved to operators/semdedup.embedding_near_dups
# and are brute-force-pinned by tests/test_semdedup.py).


# ---------------------------------------------------------------------------
# Quantization storage star-schema (A14)
# ---------------------------------------------------------------------------

# (method, bits_per_dimension, accuracy_retention, search_speed_multiplier)
# constants from ref scripts/quantization_analysis.py:90-186
QUANT_METHODS = [
    ("float32", 32, 1.0, 1.0),
    ("float16", 16, 0.99, 1.2),
    ("bfloat16", 16, 0.985, 1.3),
    ("int8", 8, 0.95, 1.5),
    ("int4", 4, 0.88, 2.0),
    ("binary", 1, 0.75, 3.0),
    ("pq8", 8, 0.92, 1.8),
    ("sq8", 8, 0.94, 1.6),
]

_QUANT_VALUES = ", ".join(f"('{m}', {b}, {a}, {s})" for m, b, a, s in QUANT_METHODS)


@query(
    "quantization_storage",
    f"""
    WITH methods(method, bits, accuracy, speed) AS (VALUES {_QUANT_VALUES}),
    stats AS (SELECT count(*) AS total_chunks FROM embeddings)
    SELECT method,
           CAST(ceil(64 * bits / 8.0) AS BIGINT)                          AS bytes_per_vector,
           round(total_chunks * ceil(64 * bits / 8.0) / (1024.0*1024.0), 6) AS vector_mb,
           round(total_chunks * 1024.0 / (1024.0*1024.0), 6)              AS metadata_mb,
           round(ceil(64 * bits / 8.0) / (64 * 4.0), 6)                   AS compression_vs_float32,
           round(CAST((1 - accuracy) * 100 AS DOUBLE), 6)                 AS accuracy_loss_pct
    FROM methods CROSS JOIN stats
    """,
)
def quantization_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 quantization storage calculator (ref quantization_analysis.py:200-247):
    methods dimension table × collection stats, dim=64 (fixture dim),
    1 KB metadata per chunk. A miniature star-schema query."""
    methods = spark.createDataFrame(
        QUANT_METHODS, "method string, bits int, accuracy double, speed double"
    )
    stats = (
        t(spark, sf_dir, "embeddings").groupBy().agg(F.count("*").alias("total_chunks"))
    )
    bpv = F.ceil(F.lit(64) * F.col("bits") / 8.0)
    return (
        F.broadcast(methods)
        .crossJoin(stats)
        .select(
            "method",
            bpv.cast("bigint").alias("bytes_per_vector"),
            r6(F.col("total_chunks") * bpv / (1024.0 * 1024.0)).alias("vector_mb"),
            r6(F.col("total_chunks") * 1024.0 / (1024.0 * 1024.0)).alias(
                "metadata_mb"
            ),
            r6(bpv / (64 * 4.0)).alias("compression_vs_float32"),
            r6((1 - F.col("accuracy")) * 100).alias("accuracy_loss_pct"),
        )
    )
