"""Pins for the r18 package-audit fixes (dedup.py / streaming/jobs.py).

Four behaviors, each previously unpinned:
- dedup_graph_pagerank on an EMPTY near-dup graph returns the empty
  (doc_id, r_micro) frame its SQL oracle yields, instead of a
  ZeroDivisionError in the teleport sizing (cf. reference behavior:
  query operators degrade to empty results on empty inputs).
- _duplicate_components probes the committed durable artifact BEFORE
  building, so a durable refill reads the CC labels from disk instead
  of re-running the whole iterative loop and discarding the result.
- connected_components unpersists the symmetrized edge table on the
  non-convergence error path too, not only on success.
- run_to_parquet_sink's mkdtemp sink dirs are tracked and reaped by
  _cleanup_sink_dirs (atexit), and the batch/streaming session-gap
  constants stay equal (they share one oracle).
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_pagerank_empty_graph_returns_empty_not_zerodiv(spark):
    from polarify_spark.operators import dedup

    empty_pairs = spark.createDataFrame([], "d1 long, d2 long")
    orig = dedup._simhash_pairs_artifact
    # a corpus with no same-language pair within the Hamming radius:
    # fresh memo dict, empty pair artifact
    dedup._simhash_pairs_artifact = lambda s, d: ({}, empty_pairs)
    try:
        out = dedup.graph_pagerank(spark, "ignored-by-stub")
        assert out.columns == ["doc_id", "r_micro"]
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint",
            "bigint",
        ]
        assert out.count() == 0
    finally:
        dedup._simhash_pairs_artifact = orig


def test_duplicate_components_durable_refill_skips_cc_loop(spark, tmp_path):
    from polarify_spark.operators import dedup, release_shared_caches
    from polarify_spark.operators._memo import ARTIFACTS_DIR_CONF

    release_shared_caches(spark)
    spark.conf.set(ARTIFACTS_DIR_CONF, str(tmp_path / "artifacts"))
    orig = dedup.connected_components
    try:
        first = dedup.dedup_duplicate_clusters(
            spark, SF_DIR, algorithm="two-phase"
        )
        built = {tuple(r) for r in first.collect()}
        assert built

        # fresh-session memo state: artifacts on disk are the only
        # carryover — and the CC loop must NOT run again
        release_shared_caches(spark)

        def _must_not_run(*a, **kw):
            raise AssertionError(
                "durable refill re-ran the iterative CC loop"
            )

        dedup.connected_components = _must_not_run
        served = dedup.dedup_duplicate_clusters(
            spark, SF_DIR, algorithm="two-phase"
        )
        assert {tuple(r) for r in served.collect()} == built
    finally:
        dedup.connected_components = orig
        spark.conf.unset(ARTIFACTS_DIR_CONF)
        release_shared_caches(spark)


def test_connected_components_unpersists_on_nonconvergence(spark):
    from polarify_spark.operators.dedup import connected_components

    # a 4-node path graph needs >1 propagation round; max_iterations=1
    # forces the RuntimeError path
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    # capture the DataFrames the loop persists (the symmetrized edge
    # table is the only .persist() call) and assert each is unpersisted
    # after the failure — counting persistent RDDs would false-positive
    # on the loop's legitimate localCheckpoint residue. Patch the
    # CONCRETE class (pyspark 4: sql.classic.dataframe.DataFrame), not
    # the pyspark.sql.DataFrame base, which the classic class overrides.
    DataFrame = type(edges)
    captured: list = []
    orig_persist = DataFrame.persist

    def capturing_persist(self, *a, **kw):
        captured.append(self)
        return orig_persist(self, *a, **kw)

    DataFrame.persist = capturing_persist
    try:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, src="a", dst="b", max_iterations=1)
    finally:
        DataFrame.persist = orig_persist
    assert captured, "the loop persists the symmetrized edge table"
    for df in captured:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), (
            "edge table left pinned after non-convergence"
        )


def test_sink_dirs_tracked_and_reaped(tmp_path):
    from polarify_spark.streaming import jobs

    fake = tmp_path / "polarify_stream_out_fake"
    fake.mkdir()
    (fake / "part-0.parquet").write_bytes(b"x")
    jobs._SINK_DIRS.append(str(fake))
    jobs._cleanup_sink_dirs()
    assert not fake.exists()
    assert jobs._SINK_DIRS == []


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _toy_vectors(spark):
    from pyspark.sql import functions as F

    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(c, [float((c * 5 + d) % 7) - 3.0 for d in range(4)]) for c in range(3)],
        "cell_id long, cent_vec array<double>",
    )
    return emb, cents


def _brute_assign(rows, cents):
    import math

    out = {}
    for i, v in rows:
        best = None
        for c, cv in cents:
            dot = sum(a * b for a, b in zip(v, cv))
            na = math.sqrt(sum(a * a for a in v))
            nb = math.sqrt(sum(b * b for b in cv))
            cos = round(dot / (na * nb), 4) if na and nb else 0.0
            # (cos desc, cell_id asc) — the documented tie-break
            key = (-cos, c)
            if best is None or key < best[0]:
                best = (key, c)
        out[i] = best[1]
    return out


def test_assign_to_centroids_no_shuffle_and_matches_bruteforce(spark):
    from polarify_spark.operators import similarity

    emb, cents = _toy_vectors(spark)
    assigned = similarity._assign_to_centroids(emb, cents)
    plan = _plan(assigned)
    assert "hashpartitioning" not in plan
    assert "Window" not in plan
    got = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    rows = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    cs = [(r["cell_id"], r["cent_vec"]) for r in cents.collect()]
    assert got == _brute_assign(rows, cs)


def test_knn_join_self_pairs_documented_behavior(spark):
    from pyspark.sql import functions as F

    from polarify_spark.operators.knn import knn_join

    emb, _ = _toy_vectors(spark)
    block = emb.limit(8)
    out = knn_join(block, block, k=3).where(F.col("rank") == 1)
    rows = out.collect()
    # same table on both sides: every vector is its own rank-1 neighbor
    # at cosine 1.0 — the documented self-pair semantic
    assert rows and all(r["q_id"] == r["neighbor_id"] for r in rows)
    assert all(abs(r["cosine"] - 1.0) < 1e-6 for r in rows)


def test_corpus_checkpoints_use_serialized_helper():
    import inspect

    from polarify_spark.operators import similarity

    # the three corpus-sized ANN checkpoints must route through
    # _memo.local_checkpoint (serialized storage — the r11-measured GC
    # fix); a bare .localCheckpoint() re-introduces deserialized rows
    for fn in (
        similarity._cell_ranked,
        similarity._bucketed,
        similarity._multitable_bucketed,
    ):
        src = inspect.getsource(fn)
        assert "local_checkpoint(" in src, fn.__name__
        assert ".localCheckpoint()" not in src, fn.__name__


def _with_docs(spark, rows):
    """Run a thunk with text._docs returning a crafted documents frame."""
    from polarify_spark.operators import text

    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    orig = text._docs
    text._docs = lambda s, d: df
    return orig


def test_quality_score_empty_text_yields_null_not_ansi_crash(spark):
    # ANSI mode (the pinned default) aborted the whole job with
    # DIVIDE_BY_ZERO on an empty document, where the DuckDB oracle
    # yields a NULL-quality row (verified: 0/0 double is NULL in DuckDB)
    from polarify_spark.operators import text

    orig = _with_docs(
        spark, [(1, "en", ""), (2, "en", "plain lowercase words here")]
    )
    try:
        rows = {r["doc_id"]: r for r in text.quality_score(spark, "x").collect()}
    finally:
        text._docs = orig
    assert rows[1]["alpha_ratio"] is None and rows[1]["quality"] is None
    assert rows[2]["quality"] is not None


def test_lang_median_skips_nulls_like_sql_median(spark):
    # np.median propagates NaN: one NULL-quality doc (empty text) used
    # to poison its whole language's median vs DuckDB's NULL-skipping
    # median(); all-NULL groups must yield NULL, matching SQL
    from polarify_spark.operators import text

    orig = _with_docs(
        spark,
        [
            (1, "en", ""),
            (2, "en", "plain lowercase words here"),
            (3, "xx", ""),
        ],
    )
    try:
        out = {
            r["lang"]: r
            for r in text.lang_median_quality(spark, "x").collect()
        }
    finally:
        text._docs = orig
    assert out["en"]["median_quality"] is not None  # the real doc's score
    assert out["en"]["n_docs"] == 2
    assert out["xx"]["median_quality"] is None  # all-NULL group -> NULL


def test_rollup_day_id_floor_parity_pre_1970(spark):
    # DuckDB's `//` truncates toward zero: hour_id -43 gave day_id -1 in
    # the oracle while Spark's F.floor gives -2 — the SQL now floors
    import duckdb

    from polarify_spark.operators import timeseries

    events = spark.createDataFrame(
        [(1, "click", "1969-12-30 05:00:00", 1.0)],
        "event_id long, event_type string, ts string, value double",
    ).selectExpr(
        "event_id", "event_type", "CAST(ts AS TIMESTAMP) ts", "value"
    )
    orig = timeseries._events
    timeseries._events = lambda s, d: events
    try:
        got = {
            (r["event_type"], r["day_id"], r["hour_id"])
            for r in timeseries.rollup_multigrain(spark, "x").collect()
        }
    finally:
        timeseries._events = orig
    assert ("click", -2, -43) in got  # floor(-43/24) = -2, not -1

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT 1::BIGINT AS event_id,"
        " 'click' AS event_type,"
        " TIMESTAMP '1969-12-30 05:00:00' AS ts, 1.0 AS \"value\""
    )
    oracle = {
        (r[0], r[1], r[2])
        for r in con.execute(timeseries.ROLLUP_MULTIGRAIN_SQL).fetchall()
    }
    assert ("click", -2, -43) in oracle  # oracle agrees post-fix


def test_seasonal_hour_of_day_positive_for_pre_1970(spark):
    import duckdb

    from pyspark.sql import functions as F

    # Spark side: pmod lands hour_id -1 in slot 23, not -1
    row = (
        spark.range(1)
        .select(F.pmod(F.lit(-1).cast("long"), F.lit(24)).cast("int").alias("h"))
        .first()
    )
    assert row["h"] == 23
    # SQL side: the oracle's ((h % 24) + 24) % 24 idiom matches
    assert duckdb.sql("SELECT ((-1 % 24) + 24) % 24").fetchone()[0] == 23


def test_session_gap_constants_stay_equal():
    # jobs.py cannot import the constant (operators/__init__ imports the
    # streaming package to register queries — circular), so this pin is
    # the mechanism that makes batch/stream sessionize divergence a CI
    # failure instead of a runtime oracle mismatch
    from polarify_spark.operators.timeseries import (
        SESSION_GAP_MINUTES as batch_gap,
    )
    from polarify_spark.streaming.jobs import (
        SESSION_GAP_MINUTES as stream_gap,
    )

    assert batch_gap == stream_gap
