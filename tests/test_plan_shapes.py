"""Plan-shape pins: the scale properties .explain promises must survive
refactors — pushdown reaches the scan, projections stay shuffle-free,
small sides broadcast, aggregations combine map-side.

These tests never execute a job (plan inspection only), so they are cheap
at any SF.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polarify_spark.plans import (
    assert_no_shuffle,
    broadcast_joins,
    exchange_count,
    plan_string,
    pushed_filters,
    read_schemas,
    wholestage_codegen_count,
)
from polarify_spark.sources import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_transpiled_projection_is_single_fused_stage(spark):
    """Q1 (transpiled CaseWhen over lineitem): no shuffle, one codegen span,
    and the 16-column table is pruned to the 3 referenced columns."""
    from polarify_spark.queries import CORE_QUERIES

    df = CORE_QUERIES["q1_signum_ifelse"][0](spark, SF_DIR)
    assert_no_shuffle(df)
    assert wholestage_codegen_count(df) == 1
    [cols] = read_schemas(df)
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity"}


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = read_table(spark, SF_DIR, "orders").where(F.col("o_orderkey") < 100)
    pushed = pushed_filters(df)
    assert any("LessThan(o_orderkey,100)" in p for p in pushed), pushed


def test_text_operators_are_scan_shaped(spark):
    """Every per-document feature extractor must be a shuffle-free scan
    stage reading only the columns it uses. (The KMV sketch is exempt: it
    is a corpus-level aggregate whose whole point is its shuffle shape —
    per-partition top-K then a K-row reduce.)"""
    from polarify_spark.operators.text import QUERIES

    for name, (fn, _sql) in QUERIES.items():
        if name in (
            "text_kmv_distinct_tokens",
            "text_lang_median_quality",
            "text_langid_confusion",
            "text_repetition_stats",
            "text_tfidf_top_terms",
        ):
            # aggregation-shaped (corpus-level or per-doc-gram), not
            # per-document projections
            continue
        df = fn(spark, SF_DIR)
        assert_no_shuffle(df)
        for cols in read_schemas(df):
            assert set(cols) <= {"doc_id", "lang", "text"}, (name, cols)


def test_similarity_broadcasts_the_query_side(spark):
    """Brute-force top-k: the corpus scan must never shuffle before scoring;
    the (small) query set rides a broadcast. The only exchange allowed is
    the per-query window ranking."""
    from polarify_spark.operators.similarity import topk_bruteforce

    df = topk_bruteforce(spark, SF_DIR)
    assert broadcast_joins(df), plan_string(df)
    assert exchange_count(df) <= 1  # the rank window only


def test_exact_dedup_has_mapside_partial_aggregation(spark):
    """groupBy(content_hash) must plan two HashAggregates around one
    exchange: partial (map-side combine) then final — the shape that keeps
    the shuffle linear in distinct keys, not input rows."""
    from polarify_spark.operators.dedup import dedup_exact

    import re

    plan = plan_string(dedup_exact(spark, SF_DIR))
    # the formatted plan names each operator in the tree and once more in the
    # details section; count the detail entries
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan
    assert "partial_count" in plan and "partial_min" in plan, plan
    df = dedup_exact(spark, SF_DIR)
    assert exchange_count(df) == 1


def test_decontaminate_broadcasts_eval_set_without_corpus_shuffle(spark):
    """docs_decontaminate: the eval gram set must collapse to a single-row
    broadcast (BroadcastNestedLoopJoin over an IdentityBroadcastMode
    exchange) and the corpus side must never shuffle on data-derived keys.
    Since r19 the eval side is the memoized per-corpus ``eval_hv``
    artifact: the query plan broadcasts a MATERIALIZED scan (no per-call
    collect_set), and the map-side combine lives in the artifact's build
    plan, pinned separately below."""
    from polarify_spark.operators.dedup import (
        DECONTAM_EVAL_MOD,
        _decontam_grams,
        docs_decontaminate,
    )

    plan = plan_string(docs_decontaminate(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # the eval side broadcasts the materialized memo artifact, not a
    # per-call aggregate re-run
    assert "partial_collect_set" not in plan, plan
    assert "ExistingRDD" in plan, plan
    # the artifact's BUILD plan keeps the map-side combine on the eval side
    build_plan = plan_string(
        _decontam_grams(spark, SF_DIR)
        .where(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        .select(F.explode("hv").alias("h"))
        .agg(F.array_sort(F.collect_set("h")).alias("eval_hv"))
    )
    assert "partial_collect_set" in build_plan, build_plan


def test_simhash_pairs_join_is_banded_not_all_pairs(spark):
    """The SimHash pair join must key on (lang, band_idx, band_bits) — the
    pigeonhole banding that keeps candidate generation bucketed. A join on
    lang alone is the all-pairs O(n^2)-per-language scale-killer. Pinned
    on the pre-checkpoint frame (``_simhash_pairs_parts``): the public
    query returns the memoized checkpoint, whose plan is just a scan of
    the materialized edge list."""
    import re

    from polarify_spark.operators.dedup import _simhash_pairs_parts

    _memo, pairs = _simhash_pairs_parts(spark, SF_DIR)
    plan = plan_string(pairs)
    key_lines = [
        line
        for line in plan.splitlines()
        if re.search(r"(Left|Right) keys", line)
    ]
    assert key_lines, plan
    assert all("band_bits" in line and "band_idx" in line for line in key_lines), (
        key_lines
    )


def test_embedding_neardup_blocks_on_ivf_cell(spark):
    """The embedding near-dup self-join must key on the data-driven cell_id
    (IVF assignment), not on a fixed-cardinality data attribute like label
    whose blocks grow linearly with the corpus."""
    import re

    from polarify_spark.operators.dedup import dedup_embedding_neardup

    plan = plan_string(dedup_embedding_neardup(spark, SF_DIR))
    key_lines = [
        line
        for line in plan.splitlines()
        if re.search(r"(Left|Right) keys", line)
    ]
    assert key_lines, plan
    assert all("cell_id" in line for line in key_lines), key_lines
    assert "label" not in plan


def test_multimodal_plumbing_is_shuffle_free(spark):
    from polarify_spark.operators.multimodal import (
        decode_audio_query,
        decode_image_query,
        payload_features,
        resize_image_query,
        video_frames_query,
    )

    # featurize and every real-codec decode query are mapInPandas over the
    # scan: one Arrow exchange boundary into Python, zero shuffles
    for fn in (
        payload_features,
        decode_image_query,
        decode_audio_query,
        resize_image_query,
        video_frames_query,
    ):
        assert_no_shuffle(fn(spark, SF_DIR))


def test_star_join_broadcasts_dimensions(spark):
    """The Q5-shaped star join must broadcast its dimension side(s): the
    fact tables shuffle on their join key at most, never for a dimension.
    The date filter must be pushed into the orders scan."""
    from polarify_spark.operators.relational import revenue_by_nation

    df = revenue_by_nation(spark, SF_DIR)
    assert broadcast_joins(df), plan_string(df)
    assert any("o_orderdate" in p for p in pushed_filters(df)), pushed_filters(df)


def test_global_topk_plans_take_ordered_not_full_sort(spark):
    """orderBy().limit(k) must plan TakeOrderedAndProject — per-partition
    top-k then a k-row merge — not a global Sort stage."""
    from polarify_spark.operators.relational import top_orders

    plan = plan_string(top_orders(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_pricing_summary_pushes_shipdate_filter(spark):
    from polarify_spark.operators.relational import pricing_summary

    df = pricing_summary(spark, SF_DIR)
    assert any("l_shipdate" in p for p in pushed_filters(df)), pushed_filters(df)
    [cols] = read_schemas(df)
    assert "l_partkey" not in cols  # pruning: untouched columns stay unread


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's runtime skew handling — the automatic complement to the
    explicit salting in operators.skew: when one join key dominates, the
    final adaptive plan must re-split the oversized partition
    (SortMergeJoin marked skew=true) instead of pinning it on one task.
    Thresholds are lowered so the small test dataset trips the same
    machinery a 100 TB hot key would."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(400_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        small = spark.range(400_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = big.join(small, "k")
        # execute THIS dataframe's plan (count() would build a different
        # aggregate plan and leave the join's AQE plan unfinalized)
        assert len(joined.collect()) == 400_000
        plan = plan_string(joined)
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """A directory-partitioned sink must let readers prune whole partitions
    from WHERE clauses: the plan's PartitionFilters carries the predicate
    and the scan lists only the matching partition's files."""
    import re

    from polarify_spark.sources import read_table, write_partitioned

    events = read_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    out = str(tmp_path / "events_by_type")
    write_partitioned(events, out, partition_by=["event_type"])

    df = spark.read.parquet(out).where(F.col("event_type") == "click")
    plan = plan_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    # pruning is real: only the one partition's rows are read
    n_click = events.where(F.col("event_type") == "click").count()
    assert df.count() == n_click


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-bucketed tables must sort-merge join with zero exchanges — the
    pay-the-shuffle-once-at-write-time contract. Broadcast is disabled so
    the test exercises the bucketed path, not the small-table shortcut."""
    from polarify_spark.sources import read_table, write_bucketed

    events = read_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    users = (
        read_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n_events")
    )
    prev_wh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(events, "bt_events", ["user_id"], 4)
        write_bucketed(users, "bt_users", ["user_id"], 4)
        joined = spark.table("bt_events").join(spark.table("bt_users"), "user_id")
        assert exchange_count(joined) == 0, plan_string(joined)
        assert joined.count() == events.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_wh)
        spark.sql("DROP TABLE IF EXISTS bt_events")
        spark.sql("DROP TABLE IF EXISTS bt_users")


def test_sq8_and_kmeans_avoid_cartesian_and_smj(spark):
    """The quantized index and k-means training must keep their broadcast
    shape: centroid/stats sides always broadcast, never a cartesian product
    or a sort-merge join against the corpus."""
    from polarify_spark.operators.similarity import (
        similarity_kmeans_centroids,
        topk_sq8,
    )

    for fn in (topk_sq8, similarity_kmeans_centroids):
        plan = plan_string(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert broadcast_joins(fn(spark, SF_DIR)), plan


def test_training_corpus_join_spine_has_no_cartesian(spark):
    """The composed pipeline joins only on doc_id; any cartesian product
    would mean a gate lost its key."""
    from polarify_spark.operators.dedup import docs_training_corpus

    plan = plan_string(docs_training_corpus(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_knn_join_methods_plan_shapes(spark):
    """The general kNN join must keep its physical contracts: bruteforce
    broadcasts the query side (never a cartesian product of two big
    sides); the index methods turn the pairing into an equi-join on the
    cell/bucket key (a cartesian or nested-loop pairing would mean the
    blocking key fell out of the join)."""
    from pyspark.sql import functions as F

    from polarify_spark.operators.knn import knn_join
    from polarify_spark.operators.similarity import N_CELLS, N_QUERIES

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.where(F.col("vec_id") < 4)
    b = emb.where(F.col("vec_id") >= 4)
    cents = emb.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cell_id"),
        F.col("embedding").alias("cent_vec"),
    )

    bf_plan = plan_string(knn_join(a, b, 3))
    assert "CartesianProduct" not in bf_plan, bf_plan
    assert "Broadcast" in bf_plan, bf_plan

    for kwargs in (
        {"method": "ivf", "centroids": cents, "probes": 2},
        {"method": "rplsh"},
    ):
        plan = plan_string(knn_join(a, b, 3, **kwargs))
        assert "CartesianProduct" not in plan, plan
        # the pairing must be a key-based equi-join on cell_id/bucket
        assert ("hashjoin" in plan.lower()) or ("sortmergejoin" in plan.lower()), plan

    # norms stay below the pairing join: the pair-scoring Project holds
    # exactly one dot-product fold, not the three of an inline cosine
    for kwargs in (
        {},
        {"method": "ivf", "centroids": cents, "probes": 2},
        {"method": "rplsh"},
    ):
        projects = _projects_above_first_join(knn_join(a, b, 3, **kwargs))
        assert projects, kwargs
        assert projects[-1].count("zip_with(") == 1, (kwargs, projects[-1])


def _projects_above_first_join(df) -> list:
    """Project lists on the optimized logical plan's path from the root
    down to its topmost Join (the last one sits directly over the pairing)."""
    node = df._jdf.queryExecution().optimizedPlan()
    projects = []
    while node.nodeName() != "Join":
        if node.nodeName() == "Project":
            projects.append(node.projectList().toString())
        node = node.children().apply(0)
    return projects


def test_corpus_assembly_plan_shapes(spark):
    """Corpus-assembly scale contracts: the Gopher gate is a shuffle-free
    pruned scan; the hash-split summary and the window operators each plan
    exactly one exchange (the 3-group combine / the per-source window
    hash-partitioning) — a second exchange would mean the projection or the
    window key fell apart; the vocabulary top-N must be TakeOrderedAndProject,
    never a global sort of the full vocabulary."""
    from polarify_spark.operators.corpus import QUERIES

    gopher = QUERIES["text_gopher_quality"][0](spark, SF_DIR)
    assert_no_shuffle(gopher)
    for cols in read_schemas(gopher):
        assert set(cols) <= {"doc_id", "text"}, cols

    for name in ("docs_hash_split", "docs_quality_calibrated", "docs_token_budget_pack"):
        df = QUERIES[name][0](spark, SF_DIR)
        assert exchange_count(df) == 1, (name, plan_string(df))

    plan = plan_string(QUERIES["docs_hash_split"][0](spark, SF_DIR))
    assert "partial_count" in plan and "partial_sum" in plan, plan

    vocab_plan = plan_string(QUERIES["docs_vocab_build"][0](spark, SF_DIR))
    assert "rank" in vocab_plan  # window top-N over the banded vocabulary
    cms_plan = plan_string(QUERIES["text_cms_heavy_hitters"][0](spark, SF_DIR))
    assert "TakeOrderedAndProject" in cms_plan, cms_plan  # heavy-hitter probe set


def test_incremental_dedup_and_centroid_plan_shapes(spark):
    """Incremental batch dedup must pair batch and corpus with a key-based
    anti-join (broadcast or shuffled-hash; a nested-loop pairing would mean
    the hash key fell out) and combine the batch groupBy map-side. The
    label-centroid aggregate must also plan partial averages — the shuffle
    carries labels x dims cells, not the exploded rows."""
    from polarify_spark.operators.dedup import dedup_incremental_batch
    from polarify_spark.operators.similarity import embeddings_label_centroids

    inc_plan = plan_string(dedup_incremental_batch(spark, SF_DIR))
    assert "CartesianProduct" not in inc_plan, inc_plan
    assert "LeftAnti" in inc_plan, inc_plan
    assert "partial_min" in inc_plan and "partial_count" in inc_plan, inc_plan

    cent_plan = plan_string(embeddings_label_centroids(spark, SF_DIR))
    assert "partial_avg" in cent_plan or "partial_sum" in cent_plan, cent_plan
    cent = embeddings_label_centroids(spark, SF_DIR)
    assert exchange_count(cent) == 1, cent_plan


def test_repeated_spans_is_banded_never_all_pairs(spark):
    """Substring-level dedup must plan with no CartesianProduct and no
    doc-to-doc pair join: the cross-document membership test is the
    hash-partitioned window; the hot-span skew guard (r10: driver-side
    sampled detection) contributes NOTHING to the plan unless a
    corpus-dominant span actually exists — and when one does, its only
    join is a broadcast semi against the tiny crossed-documents set (the
    corpus-sized window table is never shuffled for a join).

    r10 (ADVICE r9 asked this pin be tightened): the window table is now
    a memoized eager localCheckpoint, so the count pre-pass, the cold
    window, and the hot route all scan ONE materialized RDD — the
    replicated documents-scan subtrees the old 1..6 relaxation tolerated
    are structurally gone. This plan must contain ZERO parquet scans; the
    single pruned documents scan lives in the checkpoint's build plan."""
    from polarify_spark.operators.dedup import (
        _span_windows_plan,
        dedup_repeated_spans,
    )

    df = dedup_repeated_spans(spark, SF_DIR)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    # any non-broadcast join here would shuffle the corpus-sized window
    # table on the hash key — the exact skew the guard exists to avoid
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # r10: hot detection moved to the driver, so with no corpus-dominant
    # span (this corpus) the plan is the PURE single-pass window — no
    # join, no union, zero guard residue
    assert "Join" not in plan, plan
    assert "Union" not in plan, plan
    assert read_schemas(df) == [], read_schemas(df)
    # the checkpoint build: exactly one documents scan, pruned to the two
    # referenced columns, no join/shuffle of any kind before the explode
    build = _span_windows_plan(spark, SF_DIR)
    bschemas = read_schemas(build)
    assert len(bschemas) == 1, bschemas
    assert set(bschemas[0]) <= {"doc_id", "text"}, bschemas
    bplan = plan_string(build)
    assert "Join" not in bplan and "Exchange" not in bplan, bplan


def test_recall_samples_are_bounded_top_n(spark):
    """Both fixed-size md5 samples (dedup recall ground truth, PQ training
    set) must plan as TakeOrderedAndProject — a linear scan + bounded heap,
    never a global Sort — and join back by broadcast."""
    from polarify_spark.functions import md5_top_n_ids
    from polarify_spark.operators.dedup import (
        RECALL_SAMPLE_DOCS,
        _recall_sample_grams,
    )

    docs = read_table(spark, SF_DIR, "documents")
    ids = md5_top_n_ids(docs, "doc_id", RECALL_SAMPLE_DOCS)
    assert "TakeOrderedAndProject" in plan_string(ids)

    sampled = _recall_sample_grams(spark, SF_DIR)
    plan = plan_string(sampled)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_recall_harness_final_assembly_is_join_free(spark):
    """The ANN recall harness moves ALL comparison and grid work into the
    overlapped per-path threads; the DataFrame it returns must therefore
    plan as a pure union of the checkpointed per-method tables plus a
    scalar projection — no join, aggregate, or exchange may remain on the
    serial tail after the slowest path finishes."""
    from polarify_spark.operators.similarity import similarity_recall

    plan = plan_string(similarity_recall(spark, SF_DIR))
    assert "Union" in plan, plan
    for op in ("Join", "HashAggregate", "Exchange"):
        assert op not in plan, f"{op} left on the harness's serial tail"


def test_generated_chain_plan_equals_handwritten(spark):
    """The bench's ratio_vs_handwritten gate measures NOISE only: the
    transpiled Q1 signum chain and the hand-written F.when chain (the
    exact pair bench.py times) must compile to the IDENTICAL optimized
    plan modulo expression ids. Pinned so the ratio's round-to-round
    drift (1.051 -> 1.125 across r7/r8) can never be a real plan
    difference — any future transpiler change that breaks CaseWhen parity
    fails here, not as a mystery ratio regression."""
    import re

    from polarify_spark.queries import q1_signum

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    transpiled = li.select(
        "l_orderkey", q1_signum(F.col("l_quantity") - 25).alias("v")
    )
    x = F.col("l_quantity") - 25
    handwritten = li.select(
        "l_orderkey",
        F.when(x > 0, 1).otherwise(F.when(x < 0, -1).otherwise(0)).alias("v"),
    )

    def norm(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#x", s)

    assert norm(transpiled) == norm(handwritten)
