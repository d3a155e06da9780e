"""Property-based equivalence on RANDOM programs, not just the fixed corpus.

Hypothesis composes arbitrary small if/assign/return programs (the
statement and expression grammar the transpiler supports), transpiles each
through the low-level API (``compile_function``), and checks the generated
body — let-bound ``_let_N = F.when(...)`` temporaries from merged
conditionals, then one ``return`` — evaluated row-wise through the scalar
shim against plain-Python execution of the original program over a dense
integer domain. This exercises the branch-merging / branch-distribution /
early-return / substitution machinery on shapes nobody hand-wrote.

A thin Spark layer re-checks a fixed sample of generated programs through
Catalyst so the scalar-shim semantics stay honest against the engine.
"""

from __future__ import annotations

import ast

from hypothesis import given, settings
from hypothesis import strategies as st

from polarify_spark.transpiler import TranspileError, compile_function

from .scalar_shim import ScalarF

DOMAIN = list(range(-12, 13))


# --- program generator -------------------------------------------------------


@st.composite
def _expr(draw, names: tuple[str, ...], depth: int = 0) -> str:
    choices = ["const", "name"]
    if depth < 2:
        choices += ["add", "sub", "mul"]
    kind = draw(st.sampled_from(choices))
    if kind == "const":
        return str(draw(st.integers(-5, 5)))
    if kind == "name":
        return draw(st.sampled_from(names))
    a = draw(_expr(names, depth + 1))
    b = draw(_expr(names, depth + 1))
    op = {"add": "+", "sub": "-", "mul": "*"}[kind]
    return f"({a} {op} {b})"


@st.composite
def _cond(draw, names: tuple[str, ...]) -> str:
    a = draw(_expr(names))
    b = draw(_expr(names))
    op = draw(st.sampled_from(["<", ">", "==", "<=", ">=", "!="]))
    simple = f"({a} {op} {b})"
    if draw(st.booleans()):
        c = draw(_expr(names))
        d = draw(_expr(names))
        op2 = draw(st.sampled_from(["<", ">"]))
        conj = draw(st.sampled_from(["&", "|"]))
        return f"({simple} {conj} ({c} {op2} {d}))"
    return simple


@st.composite
def _block(draw, names: tuple[str, ...], indent: int, depth: int) -> list[str]:
    """A statement block; may bind new vars, branch, and return early."""
    pad = "    " * indent
    lines: list[str] = []
    n_stmts = draw(st.integers(1, 3))
    for _ in range(n_stmts):
        kind = draw(
            st.sampled_from(
                ["assign", "if", "return"] if depth < 2 else ["assign", "return"]
            )
        )
        if kind == "assign":
            var = f"v{len(names)}"
            lines.append(f"{pad}{var} = {draw(_expr(names))}")
            names = names + (var,)
        elif kind == "return":
            lines.append(f"{pad}return {draw(_expr(names))}")
            return lines  # statements after a block-level return are dead
        else:
            lines.append(f"{pad}if {draw(_cond(names))}:")
            lines.extend(draw(_block(names, indent + 1, depth + 1)))
            if draw(st.booleans()):
                lines.append(f"{pad}else:")
                lines.extend(draw(_block(names, indent + 1, depth + 1)))
    lines.append(f"{pad}return {draw(_expr(names))}")
    return lines


@st.composite
def programs(draw) -> str:
    body = draw(_block(("x",), 1, 0))
    return "def f(x):\n" + "\n".join(body)


# --- equivalence -------------------------------------------------------------


def _transpile_to_source(src: str) -> str:
    """The generated function: ``src``'s signature over the compiled body."""
    module = ast.parse(src)
    fn = module.body[0]
    fn.body = compile_function(fn)
    return ast.unparse(ast.fix_missing_locations(module))


def _generated_function(gen_src: str, F):
    ns: dict = {"F": F}
    exec(gen_src, ns)  # noqa: S102 — transpiler output under test
    return ns["f"]


def _python_reference(src: str):
    ns: dict = {}
    exec(src, ns)  # noqa: S102 — test-generated source
    return ns["f"]


@given(src=programs())
@settings(max_examples=200, deadline=None)
def test_random_programs_scalar_equivalence(src):
    ref = _python_reference(src)
    try:
        gen_src = _transpile_to_source(src)
    except TranspileError:
        # the generator can build e.g. a program whose branches don't all
        # return only via dead code; any rejection must be this typed error
        return
    generated = _generated_function(gen_src, ScalarF())
    for x in DOMAIN:
        got = generated(x)
        want = ref(x)
        assert got == want, (src, gen_src, x, got, want)


_SPARK_SAMPLE_SEEDS = [
    "def f(x):\n    v0 = (x * 2)\n    if (v0 > 3):\n        return (v0 - 1)\n    return v0",
    "def f(x):\n    if ((x < 0) & (x > -6)):\n        v0 = (x + 5)\n        return v0\n    if (x == 0):\n        return 7\n    return (x - 2)",
    "def f(x):\n    v0 = 3\n    if (x > 1):\n        v0 = (x * x)\n    if (x > 4):\n        v0 = (v0 + 1)\n    return (v0 - x)",
    "def f(x):\n    if (x >= 2):\n        if (x <= 5):\n            return 1\n        return 2\n    else:\n        v0 = (x * -1)\n    return (v0 + x)",
]


def test_random_program_shapes_match_catalyst(spark):
    """Fixed representative generated shapes re-checked through the engine:
    the scalar shim's first-match-wins semantics must agree with CaseWhen."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in DOMAIN], "x long")
    for src in _SPARK_SAMPLE_SEEDS:
        ref = _python_reference(src)
        gen_src = _transpile_to_source(src)
        col = _generated_function(gen_src, F)(F.col("x"))
        rows = df.select("x", col.alias("v")).collect()
        for r in rows:
            assert r["v"] == ref(r["x"]), (src, r["x"])
