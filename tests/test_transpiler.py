"""Equivalence tests: the transpiled vectorized form must agree with the
original row-wise Python on every input.

Mirrors the reference's three-layer strategy (SURVEY.md section 5):
  1. property-based equivalence against a row-wise oracle (hypothesis drives
     a pure-Python scalar evaluation of the generated code — fast, no JVM);
  2. a corpus of fixture functions as the spec of supported semantics
     (tests/corpus.py);
  3. a single-action Spark integration test evaluating the whole corpus as
     one ``select`` over a dense input column (reference does this per
     function via polars ``map_rows``; one Spark job for all functions keeps
     wall-clock low).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from polarify_spark import sparkify, transform_func_to_new_source

from .corpus import VECTORIZABLE
from .scalar_shim import run_scalar

_SUFFIX = "_sparkified"


@pytest.mark.parametrize("func", VECTORIZABLE, ids=lambda f: f.__name__)
@given(x=st.integers(-100, 100))
@settings(max_examples=60, deadline=None)
def test_scalar_equivalence(func, x):
    generated = transform_func_to_new_source(func)
    got = run_scalar(generated, func.__name__ + _SUFFIX, func.__globals__, x)
    assert got == func(x), f"{func.__name__}({x}): {got} != {func(x)}\n{generated}"


def test_spark_equivalence_single_action(spark):
    """All corpus functions evaluated in ONE select over a dense domain."""
    from pyspark.sql import functions as F

    xs = list(range(-100, 101)) + [0, 1, 2, 3, 5, -1, 7]  # dups exercise nothing special but mirror real data
    df = spark.createDataFrame([(v,) for v in xs], "x long")

    cols = []
    for i, func in enumerate(VECTORIZABLE):
        vec = sparkify(func)
        cols.append(vec(F.col("x")).alias(f"c{i}"))
    rows = df.select(F.col("x"), *cols).orderBy("x").collect()

    for row in rows:
        for i, func in enumerate(VECTORIZABLE):
            expected = func(row["x"])
            assert row[f"c{i}"] == expected, (
                f"{func.__name__}({row['x']}) = {row[f'c{i}']}, expected {expected}"
            )


def test_generated_source_shapes():
    """Spot-check the emitted chain shapes: nested for if/elif, flat for match
    (the reference's verified asymmetry, SURVEY.md section 0)."""
    from .corpus import match_literals, sign_with_default

    nested = transform_func_to_new_source(sign_with_default)
    assert "F.when(x > 0, 1).otherwise(F.when(x < 0, -1).otherwise(0))" in nested

    flat = transform_func_to_new_source(match_literals)
    assert "F.when(x == 0, 1).when(x == 2, -1).otherwise(0)" in flat


def test_receiver_inlining_fix():
    """Documented deviation: bound variables used as method receivers are
    substituted (the reference leaves them dangling -> NameError at call
    time; /root/reference/polarify/main.py:104-107)."""

    def uses_receiver(x):
        s = x + 1
        return s.cast("double")

    out = transform_func_to_new_source(uses_receiver)
    assert "(x + 1).cast('double')" in out


def test_literal_only_return():
    """A function returning a bare constant transpiles to that constant; it is
    the caller's job to wrap it (parity: reference xfails these in its
    harness, /root/reference/tests/functions.py:310-316)."""

    def const_one(x):
        return 1

    out = transform_func_to_new_source(const_one)
    assert "return 1" in out


def test_decorator_preserves_metadata():
    def documented(x):
        """docstring survives"""
        if x > 0:
            return 1
        return 0

    # a docstring is an expression statement -> unsupported; so use a plain one
    def plain(x):
        if x > 0:
            return 1
        return 0

    wrapped = sparkify(plain)
    assert wrapped.__name__ == "plain"
    assert "F.when" in wrapped.__wrapped_source__


def test_transpile_speed():
    """BASELINE.md target: < 50 ms per corpus function (transpile only)."""
    import time

    start = time.perf_counter()
    for func in VECTORIZABLE:
        transform_func_to_new_source(func)
    elapsed = time.perf_counter() - start
    per_func = elapsed / len(VECTORIZABLE)
    assert per_func < 0.05, f"transpile too slow: {per_func * 1e3:.1f} ms/function"


def test_boolop_rewrite_flag():
    """`and`/`or` are rejected by default (reference parity) and rewritten
    to `&`/`|` under allow_boolops=True (SURVEY.md section 2.3 E8 "optional
    future")."""

    def band(x):
        if x > 0 and x < 10:
            return 1
        return 0

    def bor_chain(x):
        # three operands exercise the left fold; `or` exercises BitOr
        if x < -5 or x > 5 or x == 0:
            return 1
        return 0

    with pytest.raises(ValueError, match="BoolOp"):
        sparkify(band)
    out = transform_func_to_new_source(band, allow_boolops=True)
    assert "(x > 0) & (x < 10)" in out
    out_or = transform_func_to_new_source(bor_chain, allow_boolops=True)
    assert "(x < -5) | (x > 5) | (x == 0)" in out_or


def test_boolop_rewrite_flag_engine_results(spark):
    """The rewritten form must agree with row-wise Python over a dense
    domain (operands are comparisons, so &/| and and/or coincide)."""
    from pyspark.sql import functions as F

    @sparkify(allow_boolops=True)
    def band(x):
        if x > 0 and x < 10:
            return 1
        return 0

    def band_py(x):
        if x > 0 and x < 10:
            return 1
        return 0

    df = spark.createDataFrame([(v,) for v in range(-20, 21)], "x long")
    for row in df.select("x", band(F.col("x")).alias("v")).collect():
        assert row["v"] == band_py(row["x"]), row


def test_chained_comparison_rewrite_flag():
    """`a < x < b` is rejected by default (parity) and rewritten to the
    pairwise `&` fold — Python's exact chained semantics for boolean
    comparisons — under allow_chained_comparisons=True."""

    def band(x):
        if 0 < x < 10:
            return 1
        return 0

    def triple(x):
        if 0 < x < x + 2 <= 100:
            return 1
        return 0

    with pytest.raises(ValueError, match="chained comparisons"):
        sparkify(band)
    out = transform_func_to_new_source(band, allow_chained_comparisons=True)
    assert "(0 < x) & (x < 10)" in out
    out3 = transform_func_to_new_source(triple, allow_chained_comparisons=True)
    assert "(0 < x) & (x < x + 2) & (x + 2 <= 100)" in out3


def test_not_rewrite_under_boolops_flag():
    def negated(x):
        if not (x > 0 and x < 10):
            return 1
        return 0

    out = transform_func_to_new_source(negated, allow_boolops=True)
    assert "~((x > 0) & (x < 10))" in out


def test_sugar_flags_engine_results(spark):
    from pyspark.sql import functions as F

    @sparkify(allow_boolops=True, allow_chained_comparisons=True)
    def classify(x):
        if not (0 < x < 10 or x == 42):
            return 0
        return 1

    def classify_py(x):
        return 0 if not (0 < x < 10 or x == 42) else 1

    df = spark.createDataFrame([(v,) for v in range(-5, 60)], "x long")
    for row in df.select("x", classify(F.col("x")).alias("v")).collect():
        assert row["v"] == classify_py(row["x"]), row


def test_polarify_alias_is_dropin():
    """Reference-API migration path: `from polarify_spark import polarify`
    must be the same decorator object as sparkify."""
    import polarify_spark

    assert polarify_spark.polarify is polarify_spark.sparkify


def test_transpile_is_deterministic():
    """Same function -> identical generated source on repeated transpiles
    (required for cache keys / code review diffs)."""
    from polarify_spark import transform_func_to_new_source

    from .corpus import VECTORIZABLE

    for func in VECTORIZABLE[:10]:
        assert transform_func_to_new_source(func) == transform_func_to_new_source(
            func
        )


def test_sequential_branches_grow_linearly():
    """Eight sequential dependent if/elif pairs merge into let-bound
    temporaries: the generated source grows linearly, not 3^n (distributing
    every later pair into every open leaf produces ~0.3 MB here)."""
    import time

    from .corpus import chain_of_eight_pairs

    start = time.perf_counter()
    generated = transform_func_to_new_source(chain_of_eight_pairs)
    elapsed = time.perf_counter() - start
    assert elapsed < 0.05, f"transpile took {elapsed * 1e3:.1f} ms"
    assert len(generated) < 10_000, len(generated)
    assert "_let_" in generated
    name = chain_of_eight_pairs.__name__ + _SUFFIX
    for a in range(-60, 61, 3):
        for p in (-4, 0, 3):
            for q in (-2, 1, 5):
                got = run_scalar(generated, name, chain_of_eight_pairs.__globals__, a, p, q)
                assert got == chain_of_eight_pairs(a, p, q), (a, p, q)


def test_merge_yields_to_distribution_past_catalyst_unfolding():
    """Catalyst copies a temporary into each of its uses. Where that copied
    tree would be more than `_MERGE_FACTOR` times the distributed one (seven
    pairs that test x, or five wide guards) the function compiles without
    merging, as the reference does; four pairs that test x still merge."""
    from .corpus import chain_of_four_pairs, chain_of_seven_pairs, guarded_steps

    lines = transform_func_to_new_source(chain_of_four_pairs).splitlines()
    assert sum(line.lstrip().startswith("_let_") for line in lines) == 3
    assert "_let_" not in transform_func_to_new_source(guarded_steps)
    generated = transform_func_to_new_source(chain_of_seven_pairs)
    assert "_let_" not in generated
    name = chain_of_seven_pairs.__name__ + _SUFFIX
    for a in range(-60, 61, 6):
        for p, q in ((-4, 5), (3, -2)):
            got = run_scalar(generated, name, chain_of_seven_pairs.__globals__, a, p, q)
            assert got == chain_of_seven_pairs(a, p, q), (a, p, q)


def test_sequential_branches_spark_select(spark):
    """Both sides of the merge/distribute choice through one Spark select,
    row by row: the merged eight- and four-pair chains and the distributed
    guards. (The distributed seven-pair chain is pinned above through the
    scalar shim only: its 245 kB plan overflows codegen and takes minutes in
    Spark, at the reference's output as here.)"""
    from pyspark.sql import functions as F

    from .corpus import chain_of_eight_pairs, chain_of_four_pairs, guarded_steps

    eight, four, guards = (
        sparkify(f) for f in (chain_of_eight_pairs, chain_of_four_pairs, guarded_steps)
    )
    df = spark.createDataFrame(
        [(a, p, q) for a in range(-60, 61, 3) for p in (-4, 0, 3) for q in (-2, 1, 5)],
        "a long, p long, q long",
    )
    args = (F.col("a"), F.col("p"), F.col("q"))
    rows = df.select(
        "a", "p", "q",
        eight(*args).alias("eight"), four(*args).alias("four"), guards(F.col("a")).alias("guards"),
    ).collect()
    assert len(rows) == 41 * 9
    for r in rows:
        assert r["eight"] == chain_of_eight_pairs(r["a"], r["p"], r["q"]), r
        assert r["four"] == chain_of_four_pairs(r["a"], r["p"], r["q"]), r
        assert r["guards"] == guarded_steps(r["a"]), r


def test_plain_value_arms_distribute(spark):
    """Arms that bind a column name, a `round` scale or a function keep
    them plain Python values: the conditional distributes rather than merge
    them into a `F.when` Column. So does one whose values read an argument
    the caller passes as an int, because the merged name reaches a call."""
    from pyspark.sql import functions as F

    from .corpus import (
        conditional_column_name,
        conditional_function,
        conditional_round_scale,
        conditional_scale_from_argument,
    )

    funcs = (conditional_column_name, conditional_round_scale, conditional_function)
    for func in (*funcs, conditional_scale_from_argument):
        assert "_let_" not in transform_func_to_new_source(func)
    name, scale, fn = (sparkify(f) for f in funcs)
    scale_arg = sparkify(conditional_scale_from_argument)
    df = spark.createDataFrame(
        [(x, 100 + x, 200 - x) for x in range(-20, 21)], "x long, a long, b long"
    )
    x = F.col("x")
    rows = df.select(
        "x", "a", "b",
        name(x).alias("name"), scale(x).alias("scale"), fn(x).alias("fn"),
        scale_arg(x, 2).alias("scale_arg"),
    ).collect()
    assert len(rows) == 41
    for r in rows:
        v = r["x"]
        assert r["name"] == (r["b"] if v > 0 else r["a"]) + v, r
        assert r["scale"] == pytest.approx(round(v / 7, 2 if v > 0 else 1), abs=1e-12), r
        assert r["fn"] == (-v if v > 5 else abs(v)), r
        assert r["scale_arg"] == pytest.approx(round(v / 7, 3 if v > 0 else 2), abs=1e-12), r


def test_merge_fallbacks_distribute_later_statements():
    """A conditional with a returning arm, or whose arms bind different
    names, is not merged: the following `if` is copied into each open leaf
    (equivalence of these functions is pinned through the corpus tests)."""
    from .corpus import fallback_arm_binds_extra_name, fallback_match_capture

    assert transform_func_to_new_source(fallback_arm_binds_extra_name).count("> 4") == 2
    assert transform_func_to_new_source(fallback_match_capture).count("> 8") == 3


def test_reserved_temporary_prefix_is_rejected():
    """Generated temporaries are named `_let_N`; a function that uses the
    prefix for a parameter, a local or a global it reads is rejected."""
    from polarify_spark import TranspileError

    def param(_let_x):
        return _let_x + 1

    def local(x):
        _let_0 = x + 1
        if x > 0:
            _let_0 = 2
        return _let_0

    def reads_global(x):
        if x > 0:
            return _let_scale * x  # noqa: F821 — resolved at call time only
        return x

    for func in (param, local, reads_global):
        with pytest.raises(TranspileError, match="_let_"):
            transform_func_to_new_source(func)
