"""SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication"):
cluster the corpus embeddings with k-means-style centroids, then inside
every cluster drop all but one member of each cosine-similarity >= tau
group. Complements the lexical dedup family: MinHash catches shingle
overlap, ExactSubstr catches verbatim spans, SemDeDup catches documents
that SAY the same thing in different words (templated rewrites, machine
translations of one source, boilerplate paraphrases).

The reference repo has no embedding-level dedup (its vector path stops at
store-and-search, vector_db.py); this operator is part of the
training-data-pipeline surface the task brief adds on top.

Spark shape (chosen for the oracle AND the 100 TB plan):

- **Assignment is declarative**: corpus x broadcast(centroids) join, JVM
  ``cosine`` (functions/vectors.py — sequential-order double math, the
  same expression the oracle-green top-k queries use), argmax via a
  partial-aggregable ``max(struct(score, -cid))`` — no window, no Python,
  map-side combine before the one shuffle on the corpus id. A numpy
  closure-matrix UDF (ann_index.py's IVF path) is ~10x faster per row at
  large k but accumulates in SIMD order, which can flip a 6-dp rounded
  score at the boundary; with k <= a few hundred the 8-way join is scan
  bound anyway, and exact DuckDB parity is worth more here.
- **The drop rule is an EXISTS self-join**: a member is dropped iff some
  SMALLER-id member of the same cluster is cosine >= tau to it
  (greedy keep-first — deterministic, order-free, and exactly the rule a
  SQL oracle can state). leftsemi on (cluster, id_b < id_a, cos >= tau);
  within-cluster pairing means the join key is the cluster id, so the
  work is sum(|cluster|^2) — bounded by choosing n_clusters ~ n/1000 at
  scale (SemDeDup's published setting clusters ~100M embeddings into
  ~100k clusters for the same reason). A skewed cluster is one
  AQE-splittable SMJ partition.
- Scores are rounded to 6 dp BEFORE the tau comparison and the argmax so
  float ulps can't flip either decision vs an external oracle (the same
  trick every cosine query in queries/curation_queries.py uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine


def first_k_centroids(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid pick: the embeddings of the k smallest ids,
    numbered 0..k-1 in id order. Trivially reproducible by any external
    oracle; for production clustering quality use ann_index.train_ivf's
    hash-ordered sample instead (any (cid, vec) frame plugs in).

    The rank is a count-of-smaller-ids over the k-row limited frame — a
    bounded k x k broadcast join instead of a single-partition window, so
    the whole semdedup plan stays window-free."""
    top = corpus.select(id_col, vec_col).orderBy(id_col).limit(k)
    smaller = top.select(F.col(id_col).alias("_sid"))
    return (
        top.join(F.broadcast(smaller), F.col("_sid") < F.col(id_col), "left")
        .groupBy(id_col)
        .agg(
            F.count("_sid").cast("int").alias("cid"),
            F.first(vec_col).alias("cvec"),
        )
        .select("cid", "cvec")
    )


def assign_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cluster_id): nearest centroid by cosine similarity,
    rounded to 6 dp; ties break to the smallest cid. One broadcast join +
    one partial-aggregable groupBy — no window, no Python. The embedding
    rides THROUGH the aggregate (``first`` over k identical copies) so no
    join back to the corpus is needed — one shuffle on the corpus id
    total, instead of shuffle + SMJ re-join."""
    scored = corpus.select(id_col, vec_col).join(
        F.broadcast(centroids.select("cid", "cvec"))
    ).select(
        id_col,
        vec_col,
        F.col("cid"),
        F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("_score"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("_score"), (-F.col("cid")).alias("_ncid"))
            ).alias("_b"),
            F.first(vec_col).alias(vec_col),
        )
        .select(
            id_col, vec_col, (-F.col("_b._ncid")).cast("int").alias("cluster_id")
        )
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup verdict per input row: (id_col, cluster_id, kept).

    kept = false iff a same-cluster member with a smaller id is cosine
    >= tau (6-dp rounded) similar — i.e. exactly one survivor (the
    smallest id) per within-cluster similarity group under the greedy
    first-wins rule. Downstream use: ``.filter("kept")`` + join back.

    The drop rule keeps its ``cluster_id`` equi-key under Catalyst (an
    AQE-splittable SMJ, never a cartesian — plan-pinned), and the
    LeftSemi probe early-exits per row at the FIRST matching smaller-id
    neighbor, so dense duplicate clusters get cheaper, not quadratic.
    The assignment is materialized once with a lazy localCheckpoint: its
    lineage would otherwise evaluate once per plan branch (both
    semi-join sides + the verdict frame). Same non-fault-tolerant trade
    as the other dedup operators' checkpoints; use df.checkpoint() on a
    reliable dir on a real cluster."""
    assigned = assign_clusters(corpus, centroids, id_col, vec_col).localCheckpoint(
        eager=False
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}"))
            & (
                F.round(
                    cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6
                )
                >= F.lit(tau)
            ),
            "leftsemi",
        )
        .select(id_col)
    )
    return (
        assigned.join(
            dropped.withColumn("_dropped", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def embedding_near_dups(
    corpus: DataFrame,
    tau: float = 0.8,
    group_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate PAIRS: ``(id_a, id_b, cos)``
    for every ordered pair (id_a < id_b) with 6-dp-rounded cosine >= tau,
    optionally restricted to pairs sharing ``group_col`` (a cluster id,
    an LSH bucket, a language — whatever blocking key the caller brings).

    This is the audit/inspection counterpart of :func:`semdedup` — the
    verdict operator answers "which rows survive", this one answers
    "which pairs fired", the view a curation run logs for spot checks.

    Scale: with ``group_col`` the join keeps an equi-key and the work is
    sum over groups of |group|^2 — the caller bounds it by blocking
    first (``assign_clusters``, ``minhash_lsh_candidates``'s buckets, a
    host key). With ``group_col=None`` the pairing is the corpus
    cross-product: correct, deliberately unbounded, for small frames
    (query batches, per-partition samples) only.
    """
    cols = [F.col(id_col), F.col(vec_col)] + (
        [F.col(group_col)] if group_col else []
    )
    a = corpus.select(*cols).alias("a")
    b = corpus.select(*cols).alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if group_col:
        cond = (F.col(f"a.{group_col}") == F.col(f"b.{group_col}")) & cond
    cos = F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6)
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= tau)
    )
