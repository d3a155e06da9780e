"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The library under test only ever sees these files;
nothing here reads the repository's test data or imports its tools/tests.
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 600_000  # the size of sf0.1 lineitem
DOCS_PER_R = 5_000  # the size of sf0.1 documents
EMB_DIM = 64

# parquet writer settings pinned so output bytes depend only on the data
_PQ = dict(compression="snappy", row_group_size=1 << 17, write_statistics=True)

# Column names the generated programs take, in argument order, and the
# lineitem columns bound to them.
PROGRAM_ARGS = (
    "quantity_ordered_units",
    "extended_price_amount",
    "discount_rate_fraction",
    "tax_rate_fraction",
    "line_number_in_order",
)
PROGRAM_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def write_lineitem(path: Path, seed: int, rows: int = LINEITEM_ROWS) -> None:
    """A lineitem-shaped table: the columns the generated programs read,
    plus a dense ``l_rowid`` the correctness check samples by."""
    g = _rng(seed, 1)
    table = pa.table(
        {
            "l_rowid": pa.array(np.arange(rows, dtype=np.int64)),
            "l_orderkey": pa.array(np.sort(g.integers(1, rows // 4, rows)).astype(np.int64)),
            "l_linenumber": pa.array(g.integers(1, 8, rows).astype(np.int32)),
            "l_quantity": pa.array(g.integers(1, 51, rows).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(g.uniform(900.0, 105_000.0, rows), 2)),
            "l_discount": pa.array(g.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, rows) / 100.0),
        }
    )
    pq.write_table(table, str(path), **_PQ)


# --- documents ---------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
NEAR_DUP_FRAC = 0.05  # a copy of an earlier document with one token appended
EXACT_DUP_FRAC = 0.0016  # a verbatim copy of an earlier document


def write_documents(path: Path, seed: int, r: int) -> int:
    """``r`` x 5000 documents with the sf0.1 corpus statistics: 10-100
    tokens from a 30-word vocabulary, the same language mix, 20 sources,
    5% near-duplicates and 0.16% exact duplicates of earlier documents.
    Returns the document count."""
    n = DOCS_PER_R * r
    g = _rng(seed, 2)
    vocab = np.array(VOCAB)
    lengths = g.integers(10, 101, n)
    words = g.integers(0, len(vocab), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(vocab[w]) for w in np.split(words, cuts)]
    kind = g.random(n)
    origin = (g.random(n) * np.arange(n)).astype(np.int64)  # an earlier doc
    for i in range(1, n):
        if kind[i] < NEAR_DUP_FRAC:
            texts[i] = texts[origin[i]] + " dup"
        elif kind[i] < NEAR_DUP_FRAC + EXACT_DUP_FRAC:
            texts[i] = texts[origin[i]]
    doc_id = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[g.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(table, str(path), **_PQ)
    return n


# --- embeddings and query vectors ---------------------------------------------

N_CLUSTERS = 8


def _clustered(g: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    which = g.integers(0, len(centers), n)
    return (centers[which] + 0.35 * g.standard_normal((n, EMB_DIM))).astype(np.float32)


def embedding_centers(seed: int) -> np.ndarray:
    return _rng(seed, 3).standard_normal((N_CLUSTERS, EMB_DIM))


def write_embeddings(path: Path, seed: int, n: int) -> np.ndarray:
    """``n`` 64-dim vectors around 8 seeded centers. Returns the matrix."""
    vecs = _clustered(_rng(seed, 4), embedding_centers(seed), n)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n, dtype=np.int32)),
        }
    )
    pq.write_table(table, str(path), **_PQ)
    return vecs


def query_batches(seed: int, sizes: tuple[int, ...]) -> list[np.ndarray]:
    """Seeded query batches of the given sizes from the corpus clusters."""
    centers = embedding_centers(seed)
    g = _rng(seed, 5)
    return [_clustered(g, centers, s) for s in sizes]


# --- row-wise programs for @sparkify ------------------------------------------

# (kind, sequential if/elif pairs) per pass. Each kind has one fixed shape;
# a draw changes only constants (of fixed width) and comparison operators,
# so every pass compiles the same amount of expression tree. Small programs
# stay under 1 kB of generated source; a chain grows ~3x per pair, and four
# pairs land past 30 kB while five would take most of a pass on their own.
PASS_MIX = (
    ("ifelse", 0), ("match", 0), ("ternary", 0), ("early", 0),
    ("chain", 2), ("chain", 3), ("chain", 4),
)
_CHAIN_ARGS = ("quantity_ordered_units", "discount_rate_fraction", "tax_rate_fraction")


def _c(r: random.Random, lo: float, hi: float) -> str:
    return f"{r.uniform(lo, hi):.3f}"


def _cmp(r: random.Random) -> str:
    return r.choice([">", "<", ">=", "<="])


def _amount(r: random.Random) -> str:
    return (
        f"quantity_ordered_units * {_c(r, 1, 9)} + extended_price_amount / 1000.0"
        f" - discount_rate_fraction * {_c(r, 10, 99)}"
    )


def _program(r: random.Random, name: str, kind: str, pairs: int) -> str:
    head = f"def {name}({', '.join(PROGRAM_ARGS)}):"
    if kind == "ifelse":
        body = [
            f"    if quantity_ordered_units {_cmp(r)} {_c(r, 10, 40)}:",
            f"        return {_amount(r)}",
            f"    elif discount_rate_fraction {_cmp(r)} {_c(r, 0.01, 0.09)}:",
            f"        return tax_rate_fraction * {_c(r, 10, 99)}",
            "    else:",
            f"        return extended_price_amount / 1000.0 - {_c(r, 1, 9)}",
        ]
    elif kind == "match":
        a, b, c = r.sample(range(1, 8), 3)
        body = [
            "    match line_number_in_order:",
            f"        case {a}:", f"            y = {_amount(r)}",
            f"        case {b} | {c}:", f"            y = quantity_ordered_units * {_c(r, 1, 9)}",
            "        case _:", f"            y = line_number_in_order + {_c(r, 1, 9)}",
            "    return y",
        ]
    elif kind == "ternary":
        body = [
            f"    y = {_amount(r)} if tax_rate_fraction {_cmp(r)} {_c(r, 0.01, 0.07)} else {_amount(r)}",
            f"    return y * 2.0 if quantity_ordered_units {_cmp(r)} {_c(r, 10, 40)} else y",
        ]
    elif kind == "early":
        body = [
            f"    if line_number_in_order {_cmp(r)} {r.randint(2, 6)}:",
            f"        return {_amount(r)}",
            f"    y = {_amount(r)}",
            f"    if extended_price_amount {_cmp(r)} {_c(r, 10_000, 90_000)}:",
            "        y = y - 1.0",
            "    return y",
        ]
    else:  # chain: sequential if/elif pairs, each depending on the last
        body = [f"    x = {_amount(r)} + tax_rate_fraction * {_c(r, 10, 99)}"]
        for i in range(pairs):
            up, down = _CHAIN_ARGS[i % 3], _CHAIN_ARGS[(i + 1) % 3]
            body += [
                f"    if x {_cmp(r)} {_c(r, 10, 99)}:",
                f"        x = x - {_c(r, 1, 9)} * {up}",
                f"    elif x {_cmp(r)} {_c(r, 10, 99)}:",
                f"        x = x + {_c(r, 1, 9)} * {down}",
            ]
        body.append("    return x")
    return "\n".join([head, *body]) + "\n"


def program_module(seed: int, pass_no: int) -> tuple[str, list[tuple[str, str, int]]]:
    """Source of a module holding one pass's programs, drawn fresh from
    (seed, pass), and the (name, kind, pairs) list in operation order."""
    r = random.Random(seed * 1_000_003 + pass_no)
    mix = list(PASS_MIX)
    r.shuffle(mix)
    specs, parts = [], []
    for i, (kind, pairs) in enumerate(mix):
        name = f"prog_{pass_no}_{i}"
        specs.append((name, kind, pairs))
        parts.append(_program(r, name, kind, pairs))
    return "\n\n".join(parts), specs
