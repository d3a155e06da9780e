"""Independent references for the benchmark's outputs.

* programs: the original row-wise Python function, run on a row sample;
* corpus: the DuckDB oracle SQL the query registry carries for every gate,
  composed the way the pipeline documents its config;
* kNN: exact NumPy top-k.

Each check returns the number of operations whose output is wrong.
"""

from __future__ import annotations

import math
import re
import sys
from pathlib import Path

import numpy as np


def percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile, or None unless at least 10 samples lie beyond it."""
    if not values or len(values) * (100 - q) / 100 < 10:
        return None
    return float(np.percentile(values, q))


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / (1024 * 1024)


def parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in Path(path).rglob("*.parquet"))


def _mismatch(what: str) -> None:
    print(f"perfbench: output check failed: {what}", file=sys.stderr, flush=True)


# --- programs ------------------------------------------------------------------

SAMPLE_ROWS = 400


def check_programs(lineitem_path: Path, programs: list, seed: int) -> int:
    """Each program's output frame against the original function run row
    by row, on a seeded sample of rows."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import gen

    table = pq.read_table(str(lineitem_path))
    # a seeded run of consecutive rows: the generator draws every row
    # independently, and the range filter lets the scan skip row groups
    lo = int(np.random.default_rng(seed).integers(0, table.num_rows - SAMPLE_ROWS))
    rows = table.slice(lo, SAMPLE_ROWS).to_pylist()
    in_sample = F.col("l_rowid").between(lo, lo + SAMPLE_ROWS - 1)
    failed = 0
    for name, fn, out in programs:
        got = dict(out.where(in_sample).select("l_rowid", "r").collect())
        for row in rows:
            want = fn(*(row[c] for c in gen.PROGRAM_COLUMNS))
            have = got.get(row["l_rowid"])
            if have is None or not math.isclose(have, want, rel_tol=1e-9, abs_tol=1e-9):
                _mismatch(f"{name} row {row['l_rowid']}: spark {have!r}, python {want!r}")
                failed += 1
                break
    return failed


# --- corpus --------------------------------------------------------------------

CHARLM_KEEP_MAX_NLL = 2.0  # polarify_spark.pipeline.CHARLM_KEEP_MAX_NLL


def _materialized(sql: str) -> str:
    """Evaluate each CTE once. DuckDB otherwise inlines a CTE at every
    reference, which makes the near-dup cluster oracles ~8x slower; the
    result is unchanged."""
    return re.sub(r"(^|\n|WITH |WITH RECURSIVE |,\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def _split_sql() -> str:
    """The md5 split rule ``hash_split_column`` implements (the
    ``docs_hash_split`` oracle's CASE, per document)."""
    h = "CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
    return (
        f"SELECT doc_id, CASE WHEN {h} < 98 THEN 'train' WHEN {h} < 99 THEN 'val' "
        "ELSE 'test' END AS split FROM documents"
    )


def corpus_reference(query, cfg: dict) -> dict[int, tuple[float, str]]:
    """doc_id -> (quality, split) that the pipeline must write for ``cfg``,
    composed from the per-gate oracles. ``query(name, cols, where)`` runs
    one oracle and returns the selected rows."""

    def ids(name: str, col: str, where: str = "") -> set:
        return {r[0] for r in query(name, col, where)}

    gate = cfg.get("quality_gate", "heuristic")
    if gate == "heuristic":
        quality = dict(query("docs_quality_filter", "doc_id, quality"))
    else:
        keep = (
            ids("text_charlm_quality", "doc_id", f"WHERE avg_nll <= {CHARLM_KEEP_MAX_NLL}")
            if gate == "charlm"
            else ids("docs_logreg_quality", "doc_id", "WHERE pred")
        )
        quality = {d: q for d, q in query("text_quality_score", "doc_id, quality") if d in keep}
    members = set(quality) & ids("docs_stratified_sample", "doc_id") & ids("dedup_exact", "keeper_doc_id")
    decon = {
        "broadcast": "docs_decontaminate",
        "semijoin": "docs_decontaminate_semijoin",
        "bloom": "docs_decontaminate_bloom",
    }.get(cfg.get("decontaminate", "semijoin"))
    if decon:
        members &= ids(decon, "doc_id", "WHERE NOT contaminated")
    clustered = ids("dedup_duplicate_clusters", "doc_id")
    keepers = ids("dedup_cluster_keep_best", "keeper_doc_id")
    members = {d for d in members if d not in clustered or d in keepers}
    if cfg.get("leakage_safe_split"):
        split = dict(query("docs_leakage_safe_split", "doc_id, split"))
    else:
        split = dict(query(None, "doc_id, split"))
    return {d: (quality[d], split[d]) for d in members}


def check_corpus(sf_dir: Path, outputs: list) -> int:
    import duckdb

    from polarify_spark.operators import EXTENSION_QUERIES

    oracle = {name: sql for name, (_fn, sql) in EXTENSION_QUERIES.items()}
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir / 'documents.parquet'}')"
        )
        cache: dict[str, list] = {}

        def query(name, cols, where=""):
            sql = _split_sql() if name is None else _materialized(oracle[name])
            key = f"SELECT {cols} FROM ({sql}) AS o {where}"
            if key not in cache:
                cache[key] = con.execute(key).fetchall()
            return cache[key]

        failed = 0
        for cfg, out_dir in outputs:
            want = corpus_reference(query, cfg)
            got = {
                d: (q, s, text == src)
                for d, q, s, text, src in con.execute(
                    "SELECT o.doc_id, o.quality, o.split, o.text, d.text FROM read_parquet("
                    f"'{out_dir}/**/*.parquet', hive_partitioning = true) AS o "
                    "LEFT JOIN documents AS d USING (doc_id)"
                ).fetchall()
            }
            bad = set(want) ^ set(got)
            bad |= {
                d for d in set(want) & set(got)
                if not got[d][2] or got[d][1] != want[d][1]
                or not math.isclose(got[d][0], want[d][0], abs_tol=1e-6)
            }
            if bad:
                _mismatch(f"corpus {cfg}: {len(bad)} documents differ, e.g. {sorted(bad)[:5]}")
                failed += 1
        return failed
    finally:
        con.close()


# --- kNN -----------------------------------------------------------------------

COS_TIE = 2e-4  # cosines are rounded to 4 decimals before ranking


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    order = np.argsort(-cos, axis=1, kind="stable")[:, :k]
    return order, np.take_along_axis(cos, order, axis=1)


def check_knn(corpus: np.ndarray, results: list, k: int) -> tuple[int, float | None, int]:
    """Bruteforce results must equal the exact top-k (up to ties within
    the rounding of the cosine); approximate results give recall@k over
    their queries. Returns (failed operations, recall, queries scored)."""
    failed = 0
    hits = total = 0
    for method, batch, rows in results:
        ids, cos = exact_topk(corpus, batch, k)
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["q_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
        if method == "bruteforce":
            ok = len(got) == len(batch)
            for qi in range(len(batch)):
                have = sorted(got.get(qi, []))
                if [h[0] for h in have] != list(range(1, k + 1)):
                    ok = False
                    break
                for (_, nid, c), want_c in zip(have, cos[qi]):
                    if abs(c - want_c) > COS_TIE:
                        ok = False
                diff = {h[1] for h in have} ^ set(ids[qi].tolist())
                kth = cos[qi][-1]
                for nid in diff:
                    c = corpus[nid].astype(np.float64)
                    v = batch[qi].astype(np.float64)
                    if abs(c @ v / np.linalg.norm(c) / np.linalg.norm(v) - kth) > COS_TIE:
                        ok = False
            if not ok:
                _mismatch(f"bruteforce batch of {len(batch)} differs from exact top-{k}")
                failed += 1
        else:
            for qi in range(len(batch)):
                hits += len({h[1] for h in got.get(qi, [])} & set(ids[qi].tolist()))
                total += k
    return failed, (hits / total if total else None), total // k
