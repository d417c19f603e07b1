"""SemDeDup semantic dedup (operators/semdedup.py): assignment parity with
a numpy brute force, the greedy keep-smallest-id drop rule, and the
declarative plan shape (broadcast centroids, no window)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from docling_japanese_books_spark.operators.semdedup import (
    assign_clusters,
    first_k_centroids,
    semdedup,
)


def _frame(spark, vecs, ids=None):
    ids = ids if ids is not None else list(range(len(vecs)))
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )


def _np_assign(vecs, cents):
    """Brute-force reference: argmax of 6dp-rounded cosine, ties -> lowest cid."""
    out = []
    for v in vecs:
        scores = []
        for c in cents:
            na, nb = np.linalg.norm(v), np.linalg.norm(c)
            s = 0.0 if na == 0 or nb == 0 else float(np.dot(v, c) / (na * nb))
            scores.append(round(s, 6))
        out.append(int(np.argmax(scores)))
    return out


def test_first_k_centroids_deterministic(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8)
    df = _frame(spark, vecs, ids=[5 * i + 3 for i in range(20)])
    cents = first_k_centroids(df, 4).orderBy("cid").collect()
    assert [r.cid for r in cents] == [0, 1, 2, 3]
    # cid i holds the embedding of the (i+1)-th smallest vec_id
    for i, r in enumerate(cents):
        assert np.allclose(r.cvec, vecs[i].astype(np.float32))


def test_assignment_matches_numpy(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 16).astype(np.float32)
    df = _frame(spark, vecs)
    cents = first_k_centroids(df, 5)
    got = {
        r.vec_id: r.cluster_id
        for r in assign_clusters(df, cents).select("vec_id", "cluster_id").collect()
    }
    want = _np_assign(vecs.astype(np.float64), vecs[:5].astype(np.float64))
    assert got == {i: want[i] for i in range(60)}


def test_semdedup_drops_planted_twins(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(30, 12).astype(np.float32)
    # plant exact twins of docs 0..4 at large ids: cosine 1.0 -> dropped
    vecs = np.vstack([base, base[:5]])
    ids = list(range(30)) + [1000 + i for i in range(5)]
    df = _frame(spark, vecs, ids)
    out = semdedup(df, first_k_centroids(df, 4), tau=0.999).collect()
    kept = {r.vec_id: r.kept for r in out}
    assert len(kept) == 35  # verdict for every input row
    for i in range(5):
        assert kept[1000 + i] is False, "twin must drop"
        assert kept[i] is True, "first occurrence survives"


def test_semdedup_keeps_distant_vectors(spark):
    # orthogonal one-hots: no pair is cosine >= tau -> all kept
    vecs = np.eye(6, dtype=np.float32)
    df = _frame(spark, vecs)
    out = semdedup(df, first_k_centroids(df, 2), tau=0.9).collect()
    assert all(r.kept for r in out)


def test_semdedup_greedy_first_wins_within_cluster(spark):
    # three near-identical vectors: only the smallest id survives even
    # though 1 would also drop 2 — the rule is "exists ANY smaller-id
    # neighbor", not a chain
    v = np.array([1.0, 2.0, 3.0, 4.0])
    vecs = np.vstack([v, v * 1.0001, v * 0.9999, -v])
    df = _frame(spark, vecs)
    out = {r.vec_id: r.kept for r in semdedup(df, first_k_centroids(df, 2), tau=0.99).collect()}
    assert out[0] is True and out[1] is False and out[2] is False
    assert out[3] is True  # opposite direction: cosine -1


def test_semdedup_cluster_boundary_miss_is_the_published_tradeoff(spark):
    """A near-dup pair that straddles a cluster boundary is NOT dropped —
    SemDeDup's published approximation (within-cluster pairs only). When
    the two twins ARE the two centroids, each is cosine-1.0 to its own
    centroid and lands alone; k=1 restores the drop."""
    # directionally-distinct near-dups (a scaled copy would be cosine
    # exactly 1.0 and tie into one cluster): cos(v0, v1) = 0.995 >= tau
    c, s = 0.995, float(np.sqrt(1 - 0.995**2))
    vecs = np.array([[1.0, 0, 0, 0], [c, s, 0, 0], [-1.0, 0, 0, 0]])
    df = _frame(spark, vecs)
    miss = {r.vec_id: r.kept for r in semdedup(df, first_k_centroids(df, 2), tau=0.99).collect()}
    assert miss[0] is True and miss[1] is True  # boundary miss: both kept
    hit = {r.vec_id: r.kept for r in semdedup(df, first_k_centroids(df, 1), tau=0.99).collect()}
    assert hit[0] is True and hit[1] is False


def test_assignment_plan_broadcasts_centroids_no_window(spark):
    rng = np.random.RandomState(5)
    df = _frame(spark, rng.randn(40, 8))
    plan = assign_clusters(df, first_k_centroids(df, 4))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan  # argmax is the partial-aggregable max(struct)
    assert "ArrowEvalPython" not in plan  # fully declarative: no Python
    # vec rides through the aggregate: no SMJ re-join back to the corpus
    assert "SortMergeJoin" not in plan


def test_semdedup_drop_join_keeps_equi_key(spark):
    """The 100 TB guard: Catalyst must extract cluster_id as the drop
    join's equi-key — the semi join is a hash/merge join on the cluster,
    never a corpus-level cartesian (the inequality + cosine ride as
    post-conditions)."""
    rng = np.random.RandomState(5)
    df = _frame(spark, rng.randn(40, 8))
    plan = semdedup(df, first_k_centroids(df, 4))._jdf.queryExecution().executedPlan().toString()
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi, plan
    for line in semi:
        assert "cluster_id" in line, line          # equi-key extracted
        assert "BroadcastNestedLoopJoin" not in line, line
    # the only nested-loop joins are the bounded k x k centroid ranks
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "LeftSemi" not in line and "cos" not in line.lower(), line


def test_semdedup_dense_cluster_early_exit(spark):
    """Adversarial: ONE cluster of 3k identical vectors. The LeftSemi
    probe exits at the first smaller-id match, so the verdict is exact
    (only the smallest id survives) without quadratic pair work."""
    v = [1.0, 2.0, 3.0, 4.0]
    ids = [7 * i + 3 for i in range(3000)]
    df = _frame(spark, [v] * 3000, ids=ids)
    out = semdedup(df, first_k_centroids(df, 2), tau=0.999)
    kept = [r.vec_id for r in out.filter("kept").collect()]
    assert kept == [3]  # smallest id only; all 2999 twins dropped


def test_embedding_near_dup_pairs_matches_numpy(spark):
    """Brute-force pin for the pair detector (carries the coverage of the
    retired emb_near_dup_pairs oracle query): planted additive twins must
    FIRE, and the full pair set must equal a numpy O(n^2) reference under
    the same 6-dp rounding, grouped and ungrouped."""
    from docling_japanese_books_spark.operators.semdedup import (
        embedding_near_dups,
    )

    rng = np.random.RandomState(3)
    base = rng.randn(30, 8)
    twins = base[:6] + 0.01  # cosine ~0.999+ to their originals
    vecs = np.vstack([base, twins])
    ids = list(range(30)) + [100 + i for i in range(6)]
    groups = [i % 3 for i in range(30)] + [i % 3 for i in range(6)]
    df = spark.createDataFrame(
        [
            (int(i), [float(x) for x in v], int(g))
            for i, v, g in zip(ids, vecs, groups)
        ],
        "vec_id long, embedding array<float>, grp int",
    )

    def np_pairs(restrict_group):
        v64 = vecs.astype(np.float64)
        out = set()
        for x in range(len(ids)):
            for y in range(len(ids)):
                if ids[x] >= ids[y]:
                    continue
                if restrict_group and groups[x] != groups[y]:
                    continue
                na, nb = np.linalg.norm(v64[x]), np.linalg.norm(v64[y])
                c = 0.0 if na == 0 or nb == 0 else float(v64[x] @ v64[y] / (na * nb))
                if round(c, 6) >= 0.8:
                    out.add((ids[x], ids[y]))
        return out

    got_grouped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(df, tau=0.8, group_col="grp").collect()
    }
    got_global = {
        (r.id_a, r.id_b) for r in embedding_near_dups(df, tau=0.8).collect()
    }
    assert got_grouped == np_pairs(True)
    assert got_global == np_pairs(False)
    # the planted twins all fired (grp is id%3-compatible: 100+i ≡ i+1 mod 3
    # only sometimes — assert on the GLOBAL set, which is blocking-free)
    assert {(i, 100 + i) for i in range(6)} <= got_global


def test_embedding_near_dups_grouped_keeps_equi_key(spark):
    """With a blocking key the pair join must be an equi-join on the
    group, never a corpus cartesian."""
    from docling_japanese_books_spark.operators.semdedup import (
        embedding_near_dups,
    )

    rng = np.random.RandomState(9)
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.randn(4)], i % 5)
            for i in range(40)
        ],
        "vec_id long, embedding array<float>, grp int",
    )
    plan = (
        embedding_near_dups(df, group_col="grp")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = [l for l in plan.splitlines() if "Join" in l and "grp" in l]
    assert joins, plan
