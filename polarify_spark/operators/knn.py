"""General kNN join: top-k neighbors of table A in table B.

The reference (Quantco/polarify) has no similarity surface (SURVEY.md
section 2.5); the fixed-block ``topk_*`` operators in
``operators.similarity`` prove each index family against a DuckDB oracle,
but they score one hard-coded 8-vector query block. :func:`knn_join` is the
entry point a pipeline author actually calls: any query table against any
corpus table, any id/vector columns, exact or index-accelerated.

Scale shapes (100 TB, 1000 executors) by method:

* ``bruteforce`` — exact: the query side rides a broadcast against a
  never-shuffled corpus scan, then one per-query window top-k. Right when
  the query side is broadcast-sized (ad-hoc search, eval probes); cost is
  |Q| x |corpus| scoring, so a corpus-sized query side wants an index
  method instead.
* ``ivf``  — both sides are assigned to their max-cosine centroid cell and
  the join becomes a cell_id equi-join: small query sides broadcast, big
  ones shuffle co-partitioned on the cell — either way only ~probes/n_cells
  of the cross product is scored. Centroids are caller-supplied (train with
  ``similarity.kmeans_centroids`` or bring your own); ``probes`` is the
  standard recall lever (query-side fan-out only, corpus layout unchanged).
* ``rplsh`` — both sides are bucketed by the module's deterministic
  signed-random-projection planes (``similarity._bucket_expr``) and joined
  on the bucket id: fully shuffle-co-partitioned on uniform bucket keys,
  no training step; recall comes from the plane count (see the measured
  recall floors in ``tests/test_operators_knn.py``).

Output is always (q_id, neighbor_id, cosine, rank) with cosine rounded to
4 decimals and rank ties broken by neighbor id — deterministic and
oracle-checkable, like every similarity operator.

Scoring cost: every method (and :func:`search_ivf_index`) computes each
vector's norm ONCE, in a projection below the pairing join, so a scored
pair costs one dot-product fold; centroid ranking carries each centroid's
norm in its broadcast struct. The vector kernels are Spark-SQL text from
``operators.similarity``, each turned into a Column by a single ``F.expr``
call, and evaluate the same double operations in the same order as the
per-pair ``dot / (sqrt(dot) * sqrt(dot))`` fold — results are
bit-identical to it.
"""

from __future__ import annotations

import threading
from typing import TYPE_CHECKING, Callable

from .similarity import (
    IVF_ASSIGN_CTES,
    N_CELLS,
    N_PROBES,
    N_QUERIES,
    _BUCKET_SQL,
    _bucket_expr,
    _cosine,
    _emb,
    _norm,
    _ranked_by_centroid,
    _seed_centroids,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: the registered demo queries search this vec_id slice of ``embeddings``
#: (disjoint from similarity's fixed query block and its seed centroids)
#: against everything else.
KNN_QUERY_LO = N_QUERIES + N_CELLS
KNN_QUERY_HI = KNN_QUERY_LO + 16
KNN_TOP_K = 5


def knn_join(
    queries: "DataFrame",
    corpus: "DataFrame",
    k: int = 10,
    *,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    method: str = "bruteforce",
    centroids: "DataFrame | None" = None,
    probes: int = N_PROBES,
) -> "DataFrame":
    """Top-``k`` cosine neighbors in ``corpus`` for every row of
    ``queries`` — the parameterized "kNN join A against B" a pipeline
    calls, with the column names of both sides configurable.

    ``method`` picks the physical strategy (see module docstring):
    ``"bruteforce"`` (exact), ``"ivf"`` (requires ``centroids`` with
    columns (cell_id, cent_vec); ``probes`` cells probed per query), or
    ``"rplsh"`` (deterministic random-projection buckets). Returns
    (q_id, neighbor_id, cosine, rank), rank 1..k per query; approximate
    methods may return fewer than ``k`` rows for a query whose probed
    cells/buckets run dry.

    SELF-PAIRS ARE RETURNED: ``queries`` and ``corpus`` are arbitrary
    tables, so id equality across them is not identity and this join
    deliberately does NOT filter ``neighbor_id != q_id`` (two distinct
    entities may share an id value across tables — a filter here would
    silently drop real neighbors). A self-kNN call that passes the SAME
    table on both sides therefore gets each vector back as its own
    rank-1 neighbor (cosine 1.0); exclude it with a trailing
    ``.where(F.col("neighbor_id") != F.col("q_id"))`` and ask for k+1,
    or use the ``topk_*`` operators, which work within one table and
    exclude self by construction.
    """
    from pyspark.sql import functions as F

    qs = _scoring_side(queries, query_id, query_vec, "q_id", "q")
    cs = _scoring_side(corpus, corpus_id, corpus_vec, "neighbor_id", "c")

    if method == "bruteforce":
        # the query block is the broadcast-sized side by contract here —
        # a corpus-sized query table should use an index method, whose
        # equi-join shuffles co-partitioned instead
        scored = cs.join(F.broadcast(qs))
    elif method == "ivf":
        if centroids is None:
            raise ValueError(
                "method='ivf' needs a centroids DataFrame (cell_id, "
                "cent_vec) — train one with similarity.kmeans_centroids"
            )
        qs = (
            _ranked_by_centroid(qs, centroids, "q_vec", "q_norm")
            .where(F.col("rn") <= probes)
            .select("q_id", "q_vec", "q_norm", "cell_id")
        )
        cs = (
            _ranked_by_centroid(cs, centroids, "c_vec", "c_norm")
            .where(F.col("rn") == 1)
            .select("neighbor_id", "c_vec", "c_norm", "cell_id")
        )
        # equi-join on the cell: a corpus vector lives in exactly one cell
        # and a query's probe cells are distinct, so no candidate dedup
        scored = cs.join(qs, "cell_id")
    elif method == "rplsh":
        qs = qs.select("*", _bucket_expr("q_vec").alias("bucket"))
        cs = cs.select("*", _bucket_expr("c_vec").alias("bucket"))
        scored = cs.join(qs, "bucket")
    else:
        raise ValueError(
            f"unknown method {method!r}; expected 'bruteforce', 'ivf' or 'rplsh'"
        )
    return _top_k(scored, k)


def _scoring_side(
    df: "DataFrame", id_col: str, vec_col: str, id_as: str, p: str, *keep: str
) -> "DataFrame":
    """(id_as, {p}_vec, {p}_norm, *keep): one side of a pairing join, its
    vector norm computed here, once per row, below the join."""
    from pyspark.sql import functions as F

    return df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).alias(f"{p}_vec"), *keep
    ).select("*", _norm(f"{p}_vec").alias(f"{p}_norm"))


def _top_k(pairs: "DataFrame", k: int) -> "DataFrame":
    """(q_id, neighbor_id, cosine, rank) from candidate pairs carrying
    (q_vec, q_norm, c_vec, c_norm): one dot-product fold per pair, then the
    per-query rank by (cosine desc, neighbor_id asc)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    scored = pairs.select(
        "q_id",
        "neighbor_id",
        F.round(_cosine("q_vec", "c_vec", "q_norm", "c_norm"), 4).alias(
            "cosine"
        ),
    )
    rank_window = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(rank_window)).where(
        F.col("rank") <= k
    )


# --- persisted index store ---------------------------------------------------


def _index_marker_fs(spark: "SparkSession", path: str):
    """(hadoop_fs, marker_path) for an index dir's commit marker, or
    ``None`` on Spark Connect (no JVM gateway) — the marker protocol then
    degrades to Spark's own write semantics with a documented caveat
    instead of an opaque AttributeError."""
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
    except Exception:
        return None
    from ._memo import COMMIT_MARKER

    p = jvm.org.apache.hadoop.fs.Path(f"{path}/{COMMIT_MARKER}")
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p


def save_ivf_index(
    corpus: "DataFrame",
    centroids: "DataFrame",
    path: str,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Materialize an IVF index on disk — the artifact an ANN service
    keeps next to the corpus: ``{path}/centroids`` (cell_id, cent_vec)
    and ``{path}/assignments`` (id, vec) PARTITIONED BY cell_id, so a
    probe touching P of N cells reads only those partition directories.
    Build once at write time; every later session serves from the layout
    without re-scoring the corpus.

    The index is TWO parquet tables, so "the dir exists" never implies
    "the index is consistent" — a reader arriving between the two writes
    (or after a crashed writer) could serve fresh assignments against
    stale centroids. The save therefore commits with the same
    filesystem-atomic marker the memo artifact layer uses
    (``_memo.COMMIT_MARKER``): removed before the first write, created
    only after both tables are fully in place; :func:`search_ivf_index`
    refuses an unmarked index. On Spark Connect (no JVM filesystem
    access) the marker step is skipped — single-writer discipline is
    then the caller's job."""
    from pyspark.sql import functions as F

    handles = _index_marker_fs(centroids.sparkSession, path)
    if handles is not None:
        fs, marker = handles
        fs.delete(marker, False)  # un-commit: readers must not trust mid-write
    c = corpus.select(
        F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("vec")
    )
    assigned = (
        _ranked_by_centroid(c, centroids)
        .where(F.col("rn") == 1)
        .select("id", "vec", "cell_id")
    )
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{path}/assignments"
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    if handles is not None:
        fs.createNewFile(marker)


def search_ivf_index(
    spark: "SparkSession",
    path: str,
    queries: "DataFrame",
    k: int = 10,
    *,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    probes: int = N_PROBES,
) -> "DataFrame":
    """Serve top-``k`` from a saved IVF index: queries are assigned to
    their ``probes`` nearest stored centroids, then equi-joined against
    the cell-partitioned assignment layout. The broadcast query side makes
    the cell_id join eligible for dynamic partition pruning — at scale the
    probed cells' directories are the only ones read. Returns the same
    (q_id, neighbor_id, cosine, rank) contract as :func:`knn_join`."""
    from pyspark.sql import functions as F

    handles = _index_marker_fs(spark, path)
    if handles is not None:
        fs, marker = handles
        if not fs.exists(marker):
            raise IOError(
                f"IVF index at {path} carries no commit marker: it is "
                f"incomplete, mid-write, or saved by an older version — "
                f"re-run save_ivf_index"
            )
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/assignments")
    qs = (
        _ranked_by_centroid(
            _scoring_side(queries, query_id, query_vec, "q_id", "q"),
            F.broadcast(cents),
            "q_vec",
            "q_norm",
        )
        .where(F.col("rn") <= probes)
        .select("q_id", "q_vec", "q_norm", "cell_id")
    )
    cs = _scoring_side(assigned, "id", "vec", "neighbor_id", "c", "cell_id")
    return _top_k(cs.join(F.broadcast(qs), "cell_id"), k)


# --- registered demo queries (oracle-checked) -------------------------------


def similarity_knn_join(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """Exact kNN join through the general API: embeddings vec_id in
    [KNN_QUERY_LO, KNN_QUERY_HI) against every other embedding."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    in_a = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    return knn_join(emb.where(in_a), emb.where(~in_a), KNN_TOP_K)


def similarity_knn_join_ivf(spark: "SparkSession", sf_dir: str) -> "DataFrame":
    """The same A-in-B join IVF-accelerated: the module's deterministic
    seed centroids (embeddings vec_id in [N_QUERIES, N_QUERIES + N_CELLS)),
    probe-2 per query — demonstrating the pluggable-centroid path of the
    general API with a fully deterministic oracle."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    in_a = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    return knn_join(
        emb.where(in_a),
        emb.where(~in_a),
        KNN_TOP_K,
        method="ivf",
        centroids=_seed_centroids(emb),
        probes=N_PROBES,
    )


# On-disk index build for the registered serve query: one save per corpus
# per session (the shared memo contract), written to a process-scoped temp
# directory — the registered query must be rerunnable by the driver gate
# and bench without re-scoring the corpus each call. Only the PATH is
# memoized; the artifact itself lives on disk and holds no JVM memory, so
# release_shared_caches deliberately leaves this memo alone. Every dir we
# mkdtemp is recorded in _INDEX_DIRS and removed at interpreter exit
# (atexit) — even ones orphaned by a memo clear — so repeated bench/test
# runs don't accumulate corpus-sized parquet trees in /tmp (which is
# commonly tmpfs, i.e. RAM).
_INDEX_MEMO: dict = {}
_INDEX_MEMO_LOCK = threading.Lock()
# Build locks live OUTSIDE the memo (the bpe convention): _memo.memo_build's
# locks-in-memo default is only safe when nothing pops lock entries, and
# _cleanup_index_dirs clears the memo wholesale — a clear that also dropped
# the per-key locks would let a concurrent caller start a duplicate build
# while the first one's dir is being rmtree'd out from under it.
_INDEX_BUILD_LOCKS: dict = {}
_INDEX_DIRS: list = []


#: bounded wait for in-flight index builds during cleanup: at interpreter
#: exit (atexit) a build thread wedged inside a hung Spark job must not
#: block process shutdown forever. This is ONE SHARED
#: deadline across all build locks — worst-case shutdown delay is this
#: bound, not bound x len(locks) — and an unacquirable lock skips only
#: the dirs tied to ITS key (plus any dir not yet memo-mapped, which an
#: in-flight build may still be writing), leaving them to OS tmp reaping;
#: dirs of completed builds are still deleted.
_CLEANUP_LOCK_TIMEOUT_S = 10.0


def _cleanup_index_dirs() -> None:
    """Remove the index dirs this process had created *as of entry* and
    drop their path-memo entries (a memo entry pointing at a deleted dir
    would poison the next serve call); runs at interpreter exit, callable
    directly by tests.

    Waits for in-flight builds first: every known build lock is acquired
    under ONE shared deadline (``_CLEANUP_LOCK_TIMEOUT_S`` total, not per
    lock). A lock that cannot be obtained marks its key blocked — the
    dirs memo-mapped from blocked keys are skipped (still tracked, memo
    entries live, left to OS tmp reaping), and if ANY key is blocked the
    dirs with no memo mapping are skipped too, because an in-flight build
    registers its dir at mkdtemp but inserts the memo entry only after
    the write completes, so an unmapped dir may be that build's live
    write target. Everything positively tied to an acquired key (or
    unmapped when nothing is blocked) is deleted.

    The dir list is snapshotted TOGETHER with the locks, and only
    snapshotted dirs are removed — a build that races in on a brand-new
    key after the snapshot appends its dir to ``_INDEX_DIRS`` and
    genuinely keeps it tracked (and its memo entry live) for the next
    cleanup, instead of having it drained and rmtree'd out from under
    the in-flight write."""
    import shutil
    import time

    with _INDEX_MEMO_LOCK:
        locks = dict(_INDEX_BUILD_LOCKS)
        doomed = set(_INDEX_DIRS)
        dir_key = {v: k for k, v in _INDEX_MEMO.items() if v in doomed}
    deadline = time.monotonic() + _CLEANUP_LOCK_TIMEOUT_S
    acquired: list = []
    blocked: set = set()
    try:
        for key, lock in locks.items():
            remaining = deadline - time.monotonic()
            # past the deadline a FREE lock is still taken (non-blocking):
            # one wedged build must not mark every later key blocked
            if (
                lock.acquire(timeout=remaining)
                if remaining > 0
                else lock.acquire(blocking=False)
            ):
                acquired.append(lock)
            else:
                blocked.add(key)
        if blocked:
            # refresh dir_key AFTER the acquisition loop: a
            # build that completed during the up-to-10 s wait inserted its
            # memo entry after the entry snapshot, and the stale map would
            # classify its finished dir 'unmapped' — skipped whenever any
            # OTHER key is blocked, leaking it to OS tmp reaping
            with _INDEX_MEMO_LOCK:
                dir_key = {
                    v: k for k, v in _INDEX_MEMO.items() if v in doomed
                }
            doomed = {
                d for d in doomed if d in dir_key and dir_key[d] not in blocked
            }
        with _INDEX_MEMO_LOCK:
            for key in [k for k, v in _INDEX_MEMO.items() if v in doomed]:
                del _INDEX_MEMO[key]
            _INDEX_DIRS[:] = [d for d in _INDEX_DIRS if d not in doomed]
        for d in doomed:
            shutil.rmtree(d, ignore_errors=True)
    finally:
        for lock in acquired:
            lock.release()


def _served_index_path(spark: "SparkSession", sf_dir: str) -> str:
    import tempfile

    from . import _memo

    def build() -> str:
        import atexit

        from pyspark.sql import functions as F

        path = tempfile.mkdtemp(prefix="polarify_spark_ivf_index_")
        with _INDEX_MEMO_LOCK:
            # register exactly once per process; the emptiness test broke
            # after the first cleanup (tests call it directly) and stacked
            # duplicate atexit entries
            if not getattr(_cleanup_index_dirs, "_atexit_registered", False):
                atexit.register(_cleanup_index_dirs)
                _cleanup_index_dirs._atexit_registered = True
            _INDEX_DIRS.append(path)
        emb = _emb(spark, sf_dir)
        in_q = (F.col("vec_id") >= KNN_QUERY_LO) & (
            F.col("vec_id") < KNN_QUERY_HI
        )
        save_ivf_index(emb.where(~in_q), _seed_centroids(emb), path)
        return path

    return _memo.memo_build(
        _INDEX_MEMO_LOCK,
        _INDEX_MEMO,
        ("ivf_index", sf_dir),
        build,
        locks=_INDEX_BUILD_LOCKS,
    )


def similarity_knn_index_serve(
    spark: "SparkSession", sf_dir: str
) -> "DataFrame":
    """The PERSISTED-index serving path as a registered, oracle-checked
    query: build the on-disk IVF index once per corpus
    (:func:`save_ivf_index` — cell-partitioned assignments + centroids),
    then answer the same A-in-B query block through
    :func:`search_ivf_index`. Output is pinned equal to the in-memory
    ``similarity_knn_join_ivf`` (same centroids, same probes —
    ``tests/test_operators_knn.py::test_serve_query_matches_in_memory_ivf``
    compares the two registered queries row-for-row, and the save/search
    primitives are separately pinned for parity plus dynamic partition
    pruning on the cell directories), so it shares that query's DuckDB
    oracle."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    in_q = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    path = _served_index_path(spark, sf_dir)
    return search_ivf_index(
        spark, path, emb.where(in_q), KNN_TOP_K, probes=N_PROBES
    )


def similarity_knn_join_rplsh(
    spark: "SparkSession", sf_dir: str
) -> "DataFrame":
    """The same A-in-B join RP-LSH-accelerated: both sides bucketed by the
    module's deterministic signed-projection planes and equi-joined on the
    bucket id — the training-free index path of the general API (the third
    and last ``knn_join`` method, closing its oracle coverage)."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    in_a = (F.col("vec_id") >= KNN_QUERY_LO) & (F.col("vec_id") < KNN_QUERY_HI)
    return knn_join(
        emb.where(in_a), emb.where(~in_a), KNN_TOP_K, method="rplsh"
    )


_KNN_SPLIT = (
    f"vec_id >= {KNN_QUERY_LO} AND vec_id < {KNN_QUERY_HI}"
)

KNN_JOIN_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
  FROM e q JOIN e c ON NOT ({_KNN_SPLIT.replace("vec_id", "c.vec_id")})
  WHERE {_KNN_SPLIT.replace("vec_id", "q.vec_id")}
),
ranked AS (
  SELECT q_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KNN_TOP_K}
"""

KNN_JOIN_IVF_SQL = f"""
WITH {IVF_ASSIGN_CTES},
probes AS (
  SELECT vec_id, v, cell_id FROM assign_scored
  WHERE rn <= {N_PROBES} AND ({_KNN_SPLIT})
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
  FROM probes q
  JOIN assigned c
    ON c.cell_id = q.cell_id
   AND NOT ({_KNN_SPLIT.replace("vec_id", "c.vec_id")})
),
ranked AS (
  SELECT q_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KNN_TOP_K}
"""


KNN_JOIN_RPLSH_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM e
),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
  FROM bucketed q
  JOIN bucketed c
    ON c.bucket = q.bucket
   AND NOT ({_KNN_SPLIT.replace("vec_id", "c.vec_id")})
  WHERE {_KNN_SPLIT.replace("vec_id", "q.vec_id")}
),
ranked AS (
  SELECT q_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {KNN_TOP_K}
"""


QUERIES: dict[str, tuple[Callable, str]] = {
    "similarity_knn_join": (similarity_knn_join, KNN_JOIN_SQL),
    "similarity_knn_join_ivf": (similarity_knn_join_ivf, KNN_JOIN_IVF_SQL),
    "similarity_knn_join_rplsh": (
        similarity_knn_join_rplsh,
        KNN_JOIN_RPLSH_SQL,
    ),
    # pinned equal to the in-memory IVF join (same centroids/probes), so
    # the serve path shares its oracle verbatim.
    "similarity_knn_index_serve": (similarity_knn_index_serve, KNN_JOIN_IVF_SQL),
}
