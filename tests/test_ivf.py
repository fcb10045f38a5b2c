"""IVF serving on kmeans_exact cells: ivf_batch_topk is exact at full
probe, recalls at partial probe, answers a batch as it answers each
query alone, and keeps a plan that does not grow with the query count;
sim_ivf_batch at full probe equals the float brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from c99_vectordb_spark.operators.kmeans_exact import (
    ivf_batch_topk,
    kmeans_exact,
    quantized_arr,
    space_arrays,
    standing_semdedup_cells,
)

K, DIM = 8, 64


@pytest.fixture(scope="module")
def model(embeddings):
    cent, _codes = kmeans_exact(
        None, k=K, dsub=DIM, iters=2, arr=space_arrays(quantized_arr(embeddings), DIM)
    )
    return cent


@pytest.fixture(scope="module")
def standing(embeddings, model):
    return standing_semdedup_cells(embeddings, model, K, DIM)


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") < 4)


@pytest.fixture(scope="module")
def quantized(embeddings):
    return {r.id: list(r.q) for r in quantized_arr(embeddings).collect()}


def _exact(quantized, topk):
    """Brute-force integer squared L2 over the quantized vectors, self
    excluded, ties by id — computed in plain Python."""
    out = {}
    for qid in (i for i in quantized if i < 4):
        qv = quantized[qid]
        ranked = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, v)), i)
            for i, v in quantized.items()
            if i != qid
        )
        out[qid] = [(i, d) for d, i in ranked[:topk]]
    return out


def _by_qid(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r.qid, r.rnk)):
        out.setdefault(r.qid, []).append((r.id, r.score))
    return out


def test_full_probe_is_exact(queries, model, standing, quantized):
    got = ivf_batch_topk(
        queries, model, standing, tau_k=5, k=K, nprobe=K
    ).collect()
    assert _by_qid(got) == _exact(quantized, 5)


def test_partial_probe_recall(queries, model, standing, quantized):
    exact = _exact(quantized, 1)
    got = ivf_batch_topk(
        queries, model, standing, tau_k=1, k=K, nprobe=3
    ).collect()
    hits = sum(1 for r in got if r.id == exact[r.qid][0][0])
    # the query's own cell is always probed first; top-1 neighbors of
    # random gaussian vectors usually share it or a nearby cell
    assert hits >= len(exact) // 2


def test_batch_search_plan_has_no_unions(queries, model, standing):
    """Plan-size guard: one probe join, zero Union nodes — the plan
    must not grow with the number of queries."""
    df = ivf_batch_topk(queries, model, standing, tau_k=5, k=K, nprobe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan


def test_batch_search_equals_loop_search(queries, model, standing):
    """Serving the query table in one plan reproduces serving each
    query on its own (same probe ranking, scores and ties) — the
    property the streaming ANN gate relies on when micro-batches split
    the queries differently."""
    qids = [r.vec_id for r in queries.select("vec_id").collect()]
    loop = set()
    for qid in qids:
        loop |= set(
            map(
                tuple,
                ivf_batch_topk(
                    queries.filter(F.col("vec_id") == qid),
                    model, standing, tau_k=5, k=K, nprobe=3,
                ).collect(),
            )
        )
    batch = set(
        map(
            tuple,
            ivf_batch_topk(
                queries, model, standing, tau_k=5, k=K, nprobe=3
            ).collect(),
        )
    )
    assert batch == loop


def test_batch_full_probe_is_exact(spark, sf_dir, embeddings):
    """sim_ivf_batch probes every cell, so it must equal the float
    brute force: per query, a full scan scored by squared L2 rounded to
    4 places, top 5 by (score, id), self excluded."""
    from c99_vectordb_spark.operators.recall import score_sq_l2
    from c99_vectordb_spark.queries_ext import q_sim_ivf_batch

    exact = {}
    for q in embeddings.filter(F.col("vec_id") < 3).collect():
        qvec = [float(x) for x in q.embedding]
        rows = (
            embeddings.select(
                F.col("vec_id").alias("id"),
                F.round(score_sq_l2(F.col("embedding"), qvec), 4).alias("score"),
            )
            .filter(F.col("id") != q.vec_id)
            .orderBy("score", "id")
            .limit(5)
            .collect()
        )
        exact[q.vec_id] = [(r.id, r.score) for r in rows]
    got = {}
    for r in sorted(
        q_sim_ivf_batch(spark, sf_dir).collect(),
        key=lambda r: (r.qid, r.score, r.id),
    ):
        got.setdefault(r.qid, []).append((r.id, r.score))
    assert got == exact
