"""The SQL vector kernels and the norm-hoisted kNN paths against the
per-pair Column-DSL fold they replace.

The reference below scores every pair as
``dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))`` with each fold built
through ``F.aggregate``/``F.zip_with`` lambdas — three folds per pair,
norms recomputed inside the pair. The library computes each norm once per
vector and builds its kernels as SQL text; the same double operations run
in the same order, so every cosine must be equal as a float, not just
close. Needs no testdata: the vectors are seeded NumPy draws with
deliberate near-ties (scaled copies and 1-ulp perturbations).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from polarify_spark.operators.knn import knn_join, save_ivf_index, search_ivf_index
from polarify_spark.operators.similarity import (
    EMB_DIM,
    N_PLANES,
    _bucket_expr,
    _cosine,
    _norm,
    _plane,
    _ranked_by_centroid,
)

N_VECS = 400
N_Q = 24
N_CENTS = 6
K = 10


# --- reference: the per-pair three-fold Column-DSL formula ------------------


def _ref_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ref_cosine(a, b):
    return _ref_dot(a, b) / (F.sqrt(_ref_dot(a, a)) * F.sqrt(_ref_dot(b, b)))


def _ref_bucket(vec):
    bucket = F.lit(0)
    for j in range(N_PLANES):
        plane = F.array(*[F.lit(float(c)) for c in _plane(j)])
        bucket = bucket + F.when(_ref_dot(vec, plane) > 0, F.lit(2**j)).otherwise(0)
    return bucket


def _ref_ranked(side, cents):
    """(id, vec, cell_id, cell_cos, rn) with every centroid cosine a
    three-fold per (row, centroid) pair."""
    row = cents.select(F.struct("cell_id", "cent_vec").alias("c")).agg(
        F.collect_list("c").alias("cents")
    )
    ranked = F.sort_array(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(_ref_cosine(F.col("vec"), c["cent_vec"]), 4).alias("cell_cos"),
                (-c["cell_id"]).alias("neg_cell_id"),
            ),
        ),
        asc=False,
    )
    return (
        side.crossJoin(F.broadcast(row))
        .select("id", "vec", F.posexplode(ranked).alias("pos", "s"))
        .select(
            "id",
            "vec",
            (-F.col("s.neg_cell_id")).alias("cell_id"),
            F.col("s.cell_cos").alias("cell_cos"),
            (F.col("pos") + 1).cast("int").alias("rn"),
        )
    )


def _ref_top_k(pairs, k):
    scored = pairs.select(
        "q_id",
        "neighbor_id",
        F.round(_ref_cosine(F.col("q_vec"), F.col("c_vec")), 4).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _ref_knn(q, c, k, method, cents, probes=2):
    if method == "bruteforce":
        qs = q.select(F.col("id").alias("q_id"), F.col("vec").alias("q_vec"))
        cs = c.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("c_vec"))
        return _ref_top_k(cs.crossJoin(qs), k)
    if method == "ivf":
        qs = _ref_ranked(q, cents).where(F.col("rn") <= probes).select(
            F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), "cell_id"
        )
        cs = _ref_ranked(c, cents).where(F.col("rn") == 1).select(
            F.col("id").alias("neighbor_id"), F.col("vec").alias("c_vec"), "cell_id"
        )
        return _ref_top_k(cs.join(qs, "cell_id"), k)
    key = _ref_bucket(F.col("vec")).alias("bucket")
    qs = q.select(F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), key)
    cs = c.select(F.col("id").alias("neighbor_id"), F.col("vec").alias("c_vec"), key)
    return _ref_top_k(cs.join(qs, "bucket"), k)


# --- data --------------------------------------------------------------------


def _draw() -> np.ndarray:
    rng = np.random.default_rng(20261018)
    centers = rng.normal(size=(8, EMB_DIM))
    vecs = centers[rng.integers(0, 8, N_VECS)] + 0.3 * rng.normal(
        size=(N_VECS, EMB_DIM)
    )
    vecs = vecs.astype(np.float32)
    # near-ties: exact scaled copies (equal 4-dp cosine, broken by id) and
    # copies one float32 ulp away in a single coordinate
    vecs[200:230] = vecs[0:30] * np.float32(2.0)
    vecs[230:260] = vecs[30:60]
    vecs[230:260, 0] = np.nextafter(vecs[230:260, 0], np.float32(np.inf))
    return vecs


@pytest.fixture(scope="module")
def data(spark):
    vecs = _draw()
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, vec array<float>",
    )
    q = emb.where(F.col("id") < N_Q)
    c = emb.where(F.col("id") >= N_Q)
    cents = emb.where((F.col("id") >= N_Q) & (F.col("id") < N_Q + N_CENTS)).select(
        (F.col("id") - N_Q).alias("cell_id"), F.col("vec").alias("cent_vec")
    )
    return vecs, emb, q, c, cents


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- tests -------------------------------------------------------------------


def test_cosine_with_hoisted_norms_is_bit_identical_unrounded(spark, data):
    _, _, q, c, _ = data
    pairs = c.select(
        F.col("id").alias("c_id"), F.col("vec").alias("c_vec"),
        _norm("vec").alias("c_norm"),
    ).crossJoin(
        q.select(
            F.col("id").alias("q_id"), F.col("vec").alias("q_vec"),
            _norm("vec").alias("q_norm"),
        )
    )
    got = pairs.select(
        "q_id", "c_id",
        _cosine("q_vec", "c_vec", "q_norm", "c_norm").alias("a"),
        _cosine("q_vec", "c_vec").alias("b"),
        _ref_cosine(F.col("q_vec"), F.col("c_vec")).alias("ref"),
    ).collect()
    assert len(got) == N_Q * (N_VECS - N_Q)
    assert all(r["a"] == r["ref"] and r["b"] == r["ref"] for r in got)


@pytest.mark.parametrize("method", ["bruteforce", "ivf", "rplsh"])
def test_knn_join_equals_three_fold_reference(spark, data, method):
    _, _, q, c, cents = data
    got = _rows(
        knn_join(
            q, c, K, query_id="id", query_vec="vec", corpus_id="id",
            corpus_vec="vec", method=method, centroids=cents, probes=2,
        )
    )
    want = _rows(_ref_knn(q, c, K, method, cents))
    assert got and got == want


def test_search_ivf_index_equals_three_fold_reference(spark, data, tmp_path):
    _, _, q, c, cents = data
    path = str(tmp_path / "idx")
    save_ivf_index(c, cents, path, corpus_id="id", corpus_vec="vec")
    got = _rows(
        search_ivf_index(spark, path, q, K, query_id="id", query_vec="vec", probes=2)
    )
    assert got and got == _rows(_ref_knn(q, c, K, "ivf", cents))


def test_ranked_by_centroid_equals_three_fold_reference(spark, data):
    _, emb, _, _, cents = data
    got = _rows(_ranked_by_centroid(emb, cents).select("id", "cell_id", "cell_cos", "rn"))
    want = _rows(_ref_ranked(emb, cents).select("id", "cell_id", "cell_cos", "rn"))
    assert len(got) == N_VECS * N_CENTS
    assert got == want


def test_bucket_expr_equals_fold_and_numpy_signs(spark, data):
    vecs, emb, _, _, _ = data
    got = {
        r["id"]: r["b"]
        for r in emb.select("id", _bucket_expr("vec").alias("b")).collect()
    }
    ref = {
        r["id"]: r["b"]
        for r in emb.select("id", _ref_bucket(F.col("vec")).alias("b")).collect()
    }
    assert got == ref
    dots = vecs.astype(np.float64) @ np.array(
        [_plane(j) for j in range(N_PLANES)], dtype=np.float64
    ).T
    # no dot sits so near 0 that summation order could flip its sign
    assert np.abs(dots).min() > 1e-6
    bits = ((dots > 0) * (2 ** np.arange(N_PLANES))).sum(axis=1)
    assert [got[i] for i in range(N_VECS)] == bits.tolist()
    assert len(set(got.values())) > 1


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _brute_assign(vecs, cents):
    """id -> home cell by (4-dp cosine desc, cell_id asc), summing in index
    order exactly as the fold does."""

    from math import sqrt

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    out = {}
    for i, v in enumerate(vecs):
        keys = [
            (-round(dot(v, cv) / (sqrt(dot(v, v)) * sqrt(dot(cv, cv))), 4), c)
            for c, cv in cents
        ]
        out[i] = min(keys)[1]
    return out


def test_ranked_by_centroid_no_shuffle_and_matches_bruteforce(spark, data):
    vecs, emb, _, _, cents = data
    ranked = _ranked_by_centroid(emb, cents)
    plan = _plan(ranked)
    # ranking a bounded centroid list is map-side work: no hash-partitioned
    # exchange, no window
    assert "hashpartitioning" not in plan
    assert "Window" not in plan
    got = {r["id"]: r["cell_id"] for r in ranked.where(F.col("rn") == 1).collect()}
    cs = [(r["cell_id"], r["cent_vec"]) for r in cents.collect()]
    assert got == _brute_assign(vecs, cs)
    # full ranking covers every centroid exactly once per row
    n = ranked.groupBy("id").count().select(F.min("count"), F.max("count")).first()
    assert n[0] == n[1] == len(cs)
