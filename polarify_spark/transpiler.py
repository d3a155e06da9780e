"""AST -> ``F.when`` compiler: the core of polarify-spark.

Takes a Python function written with ordinary imperative control flow
(``if/elif/else``, ``match``, assignments, early ``return``) and compiles its
body into a single vectorized PySpark ``Column`` expression —
``F.when(cond, val).when(...).otherwise(val)`` — which Catalyst then
analyzes/optimizes/codegens natively.

Behavioral parity with the reference transpiler (Quantco/polarify,
``/root/reference/polarify/main.py``) is documented per construct below.  The
implementation here is an independent, Spark-first rewrite: a *functional fold*
over an immutable-ish branch tree instead of the reference's mutating State
classes, and codegen targets ``pyspark.sql.functions.when`` (which takes
``(cond, value)`` in one call — no ``.then`` — unlike Polars).

Semantics implemented (SURVEY.md section 2 numbering):

* S1-S4  assignments (plain / annotated / multi-target / destructuring) with
  eager forward-substitution into an env of fully-inlined expressions
  (reference ``main.py:138-157,264-266``).
* S5     ``if/elif/else`` -> *nested* conditional tree (reference
  ``main.py:275-289``). Deviation: a conditional whose arms all fall through
  and bind the same names is merged SSA-style — each name the arms bind
  differently becomes a let-bound temporary ``_let_N = F.when(...)`` and
  later statements refer to it by name — so n sequential ``if`` statements
  grow the program linearly, where the reference distributes every later
  statement into every open leaf (O(2^n)). The generated body is therefore
  ``_let_N = ...`` assignments followed by one ``return``; temporaries used
  once are inlined, so a lone if/elif chain still compiles to one nested
  ``return F.when(...).otherwise(F.when(...))``. Arms that return, that
  bind different names, or that bind plain Python values (a column name, a
  ``round`` scale) keep the reference's distribution; so does the whole
  function when a temporary would reach a call argument, or when Catalyst,
  which copies a temporary into each of its uses, would see a tree more
  than ``_MERGE_FACTOR`` times the distributed one.
* S6/S7  early/partial ``return``; bare ``return`` rejected
  (reference ``main.py:291-299,360-361``).
* S8     ``match`` -> *flat* multi-arm conditional (reference
  ``main.py:301-347``), with dead-case elision and catch-all -> otherwise
  (reference ``main.py:311-324``); merged like S5 when every case falls
  through.
* M1-M9  match-pattern translation (reference ``main.py:189-262``).
* E1-E9  expression whitelist + substitution (reference ``main.py:79-126``);
  deviation (documented in SURVEY.md section 7): we also substitute inside a
  call's *function* position (``node.func``) and through attribute access, so
  ``s = x + 1; return s.abs()`` works instead of producing a ``NameError``
  (reference bug, ``main.py:104-107``).

This module imports only the stdlib — never pyspark — so transpilation is
unit-testable without a SparkSession (mirrors reference ``main.py:1-7``).
"""

from __future__ import annotations

import ast
import contextvars
import sys
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Union

__all__ = [
    "compile_function",
    "when_chain",
    "substitute",
    "allow_boolops",
    "allow_chained_comparisons",
    "TranspileError",
]

_MATCH_SUPPORTED = sys.version_info >= (3, 10)

#: prefix of the generated let-bound temporaries (``_let_0 = F.when(...)``);
#: reserved, so a function that names anything with it is rejected.
_LET_PREFIX = "_let_"

#: opt-in `and`/`or` -> `&`/`|` rewrite (SURVEY.md section 2.3 E8 "optional
#: future"). Default off for reference parity: Python's `and`/`or` invoke
#: truthiness, which is illegal on a Column, so they are rejected with an
#: actionable message. A contextvar (not a parameter) so the flag doesn't
#: have to thread through every recursive compile call; transpilation is
#: synchronous, and contextvars nest/restore correctly.
allow_boolops: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "polarify_spark_allow_boolops", default=False
)

#: opt-in chained-comparison rewrite: `a < x < b` -> `(a < x) & (x < b)`.
#: Default off for parity (the reference rejects chained comparisons).
#: Middle operands are duplicated into both comparisons — the transpiler's
#: normal forward-substitution behavior; Catalyst's subexpression
#: elimination recovers the cost.
allow_chained_comparisons: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "polarify_spark_allow_chained_comparisons", default=False
)


class TranspileError(ValueError):
    """Raised for any construct the transpiler does not support.

    Subclasses ``ValueError`` so callers that match the reference's error
    contract (``pytest.raises(ValueError)``) keep working.
    """


# ---------------------------------------------------------------------------
# Branch tree: the compile-time IR.
#
# A function body compiles to a tree of three node kinds:
#   Open(env)              -- control flow still running; env maps variable
#                             name -> fully-substituted defining expression
#   Leaf(expr)             -- this path returned `expr`
#   Switch(arms, default)  -- a conditional: ordered (test, subtree) arms plus
#                             a default subtree
# Statements are *folded* over the tree: applying a statement to a Switch
# recurses into every arm and the default; Leaf nodes are frozen (a returned
# path ignores later statements — early-return semantics, reference
# main.py:268-299); only Open nodes actually consume the statement.
# A conditional whose paths are all Open with the same names and Column
# values never stays a Switch: _Lets.merge folds it back into one Open whose
# env names let-bound temporaries, so only arms that return (or bind
# different names, or plain Python values) leave a Switch for later
# statements to distribute into. Each Open also counts the paths the
# reference's distribution would have there, so compile_function can weigh
# the merged program against the distributed one.
# ---------------------------------------------------------------------------


@dataclass
class Open:
    env: dict[str, ast.expr]
    paths: int = 1  # paths the reference's distribution would have here


@dataclass
class Leaf:
    expr: ast.expr
    paths: int = 1


@dataclass
class Switch:
    arms: list[tuple[ast.expr, "Node"]]
    default: "Node"


Node = Union[Open, Leaf, Switch]


# ---------------------------------------------------------------------------
# Expression substitution + validation (reference InlineTransformer,
# main.py:79-126). Whitelisting visitor: anything outside the supported
# grammar raises TranspileError.
# ---------------------------------------------------------------------------


class _Substituter(ast.NodeTransformer):
    """Replace bound names by their defining expressions.

    Substitution is eager, so the env always holds closed forms over the
    function's parameters, free globals and let-bound temporaries. A bound
    name is therefore replaced by its value as is, never substituted into
    again: a parameter the function later reassigns keeps meaning the
    parameter inside earlier definitions (``y = x + 1; x = 5; return y`` is
    ``x + 1``). Env values are shared into the output, not copied, and a
    subtree shared in the input is substituted once and stays shared.
    """

    def __init__(self, env: dict[str, ast.expr]):
        self._env = env
        self._memo: dict[int, tuple[ast.AST, ast.AST]] = {}

    def visit(self, node: ast.AST) -> ast.AST:
        hit = self._memo.get(id(node))
        if hit is None:
            hit = self._memo[id(node)] = (node, super().visit(node))
        return hit[1]

    # E1 — names: substitute if bound, else leave free (function parameters,
    # references to `F`, user helper functions...).
    def visit_Name(self, node: ast.Name) -> ast.expr:
        return self._env.get(node.id, node)

    # E2 / E3 — arithmetic & bitwise operators; every ast binop/unaryop is
    # admitted, matching the reference (no per-operator filtering).
    def visit_BinOp(self, node: ast.BinOp) -> ast.expr:
        return ast.BinOp(left=self.visit(node.left), op=node.op, right=self.visit(node.right))

    def visit_UnaryOp(self, node: ast.UnaryOp) -> ast.expr:
        # `not` is admitted syntactically for parity (reference passes it
        # through and the host engine rejects it at runtime); under the
        # boolop-rewrite flag it becomes `~`, the Column negation, so
        # `not (a and b)` style predicates work end to end.
        if isinstance(node.op, ast.Not) and allow_boolops.get():
            return ast.UnaryOp(op=ast.Invert(), operand=self.visit(node.operand))
        return ast.UnaryOp(op=node.op, operand=self.visit(node.operand))

    # E4 — calls. Deviation from the reference: we substitute into `node.func`
    # as well (through Attribute chains), fixing the receiver-not-inlined bug
    # (reference main.py:104-107; decision recorded in SURVEY.md section 7).
    def visit_Call(self, node: ast.Call) -> ast.expr:
        return ast.Call(
            func=self.visit(node.func),
            args=[self.visit(a) for a in node.args],
            keywords=[ast.keyword(arg=k.arg, value=self.visit(k.value)) for k in node.keywords],
        )

    def visit_Attribute(self, node: ast.Attribute) -> ast.expr:
        return ast.Attribute(value=self.visit(node.value), attr=node.attr, ctx=ast.Load())

    # E5 — conditional expressions compile to a one-arm when/otherwise.
    def visit_IfExp(self, node: ast.IfExp) -> ast.expr:
        return when_chain(
            [(self.visit(node.test), self.visit(node.body))],
            self.visit(node.orelse),
        )

    # E6 — literals pass through untouched; F.when auto-wraps them in lit().
    def visit_Constant(self, node: ast.Constant) -> ast.expr:
        return node

    # E7 — single comparisons only. Chained comparisons (0 < x < 10) would
    # need Python truthiness on a Column, which neither Spark nor Polars
    # supports (reference main.py:118-123); under the
    # `allow_chained_comparisons` flag they are rewritten to an `&` fold of
    # the pairwise comparisons (exactly Python's chained semantics when
    # every comparison is boolean, which on Columns it always is).
    def visit_Compare(self, node: ast.Compare) -> ast.expr:
        if len(node.comparators) != 1:
            if not allow_chained_comparisons.get():
                raise TranspileError(
                    "Spark Columns can't handle chained comparisons; "
                    "rewrite `a < x < b` as `(a < x) & (x < b)`"
                )
            operands = [self.visit(node.left)] + [
                self.visit(c) for c in node.comparators
            ]
            out: ast.expr | None = None
            for lhs, op, rhs in zip(operands, node.ops, operands[1:]):
                pair: ast.expr = ast.Compare(left=lhs, ops=[op], comparators=[rhs])
                out = (
                    pair
                    if out is None
                    else ast.BinOp(left=out, op=ast.BitAnd(), right=pair)
                )
            assert out is not None
            return out
        return ast.Compare(
            left=self.visit(node.left),
            ops=node.ops,
            comparators=[self.visit(node.comparators[0])],
        )

    # E8 — `and`/`or`: rejected by default (parity — truthiness is illegal
    # on a Column in both engines); under the `allow_boolops` flag rewritten
    # to a left fold of `&`/`|` over the (recursively substituted) operands.
    # Sound only when every operand is boolean-valued (comparisons, other
    # boolean columns): for those, `a and b` and `a & b` agree; Python's
    # return-the-operand short-circuit semantics for non-boolean operands
    # are NOT reproduced, which is why this is opt-in.
    def visit_BoolOp(self, node: ast.BoolOp) -> ast.expr:
        if not allow_boolops.get():
            return self.generic_visit(node)
        op = ast.BitAnd() if isinstance(node.op, ast.And) else ast.BitOr()
        values = [self.visit(v) for v in node.values]
        out = values[0]
        for value in values[1:]:
            out = ast.BinOp(left=out, op=op, right=value)
        return out

    # E8/E9 — everything else (BoolOp and/or without the flag, walrus,
    # dict/set literals, lambdas...) is rejected, matching the reference's
    # whitelist (main.py:125-126). The error message names the node type so
    # tests can match on e.g. "ast.BoolOp".
    def generic_visit(self, node: ast.AST) -> ast.AST:
        raise TranspileError(
            f"Unsupported expression type: {type(node)!r}"
            + (
                " (use `&` / `|` on parenthesized comparisons instead of `and` / `or`)"
                if isinstance(node, ast.BoolOp)
                else ""
            )
        )


def substitute(expr: ast.expr, env: dict[str, ast.expr]) -> ast.expr:
    """Return ``expr`` with every env-bound name replaced by its definition."""
    out = _Substituter(env).visit(expr)
    if not isinstance(out, ast.expr):  # pragma: no cover - defensive
        raise TranspileError(f"substitution produced a non-expression: {out!r}")
    return out


# ---------------------------------------------------------------------------
# Codegen: fold (test, value) pairs into an F.when(...).when(...).otherwise()
# call chain (reference build_polars_when_then_otherwise, main.py:49-75 — but
# PySpark's `when` takes (cond, value) in a single call and has no `.then`).
# ---------------------------------------------------------------------------


def when_chain(arms: list[tuple[ast.expr, ast.expr]], default: ast.expr) -> ast.Call:
    """Build the AST for ``F.when(t1, v1).when(t2, v2)...otherwise(default)``."""
    if not arms:
        raise TranspileError("when_chain needs at least one (test, value) arm")
    chain: ast.expr = ast.Name(id="F", ctx=ast.Load())
    for test, value in arms:
        chain = ast.Call(
            func=ast.Attribute(value=chain, attr="when", ctx=ast.Load()),
            args=[test, value],
            keywords=[],
        )
    return ast.Call(
        func=ast.Attribute(value=chain, attr="otherwise", ctx=ast.Load()),
        args=[default],
        keywords=[],
    )


# ---------------------------------------------------------------------------
# Statement folding.
# ---------------------------------------------------------------------------


def _bind(env: dict[str, ast.expr], target: ast.expr, value: ast.expr) -> None:
    """Bind one assignment target. Handles names and (nested) tuple/list
    destructuring against literal tuple/list RHS (reference main.py:138-157).
    """
    if isinstance(target, ast.Name):
        env[target.id] = substitute(value, env)
    elif isinstance(target, (ast.Tuple, ast.List)):
        if not isinstance(value, (ast.Tuple, ast.List)):
            raise TranspileError(
                f"Assignment target is {type(target)}, but value is {type(value)}"
            )
        if any(isinstance(t, ast.Starred) for t in target.elts):
            raise TranspileError("Unsupported expression type: starred assignment targets")
        if len(target.elts) != len(value.elts):
            raise TranspileError(
                f"Cannot destructure {len(value.elts)} values into "
                f"{len(target.elts)} targets"
            )
        for sub_target, sub_value in zip(target.elts, value.elts):
            _bind(env, sub_target, sub_value)
    else:
        raise TranspileError(
            f"Unsupported expression type inside assignment target: {type(target)}"
        )


def _on_open(node: Node, apply: Callable[[Open], Node]) -> Node:
    """Apply a statement to every live path: recurse through Switch arms and
    defaults, leave returned Leaf paths frozen, and call ``apply`` on each
    Open node."""
    if isinstance(node, Leaf):
        return node
    if isinstance(node, Switch):
        return Switch(
            arms=[(t, _on_open(sub, apply)) for t, sub in node.arms],
            default=_on_open(node.default, apply),
        )
    return apply(node)


def _assign(node: Open, stmt: ast.Assign | ast.AnnAssign) -> Node:
    # S2 — annotated assignment: the annotation is discarded (main.py:264-266).
    if isinstance(stmt, ast.AnnAssign):
        if stmt.value is None:
            raise TranspileError("annotated assignment without a value is not supported")
        _bind(node.env, stmt.target, stmt.value)
    else:
        # S3 — multi-target `a = b = e`.
        for target in stmt.targets:
            _bind(node.env, target, stmt.value)
    return node


def _names(expr: ast.expr) -> set[str]:
    """The names ``expr`` reads; shared subtrees are walked once."""
    seen: set[int] = set()
    names: set[str] = set()
    stack: list[ast.AST] = [expr]
    while stack:
        node = stack.pop()
        if id(node) not in seen:
            seen.add(id(node))
            if isinstance(node, ast.Name):
                names.add(node.id)
            stack.extend(ast.iter_child_nodes(node))
    return names


def _same(a: ast.expr, b: ast.expr) -> bool:
    """Whether two arm values are the same: one node, or equal leaves
    (constants, names, ``F.abs``-style attributes). Larger equal values
    built separately count as different, which only costs a temporary."""
    return a is b or (
        type(a) is type(b)
        and isinstance(a, (ast.Constant, ast.Name, ast.Attribute))
        and ast.dump(a) == ast.dump(b)
    )


def _sized(node: ast.AST, weight: dict[str, float], memo: dict[int, tuple[ast.AST, float]]) -> float:
    """Expression nodes in ``node``'s tree, counting a temporary's name as
    ``weight[name]``. Shared subtrees are walked once; ``memo`` holds each
    node it sized so that node's id cannot be reused."""
    if isinstance(node, ast.Name) and node.id in weight:
        return weight[node.id]
    hit = memo.get(id(node))
    if hit is None:
        total = 1.0 if isinstance(node, ast.expr) else 0.0
        total += sum(_sized(child, weight, memo) for child in ast.iter_child_nodes(node))
        hit = memo[id(node)] = (node, total)
    return hit[1]


class _Lets:
    """The let-bound temporaries of one function, in definition order, the
    SSA merge that creates them (a no-op when ``merging`` is off), and the
    sizes compile_function weighs merging against distribution with.

    Catalyst has no let: it copies a temporary into each of its uses, so
    ``unfolded[t]`` is the node count of ``t`` with every temporary it reads
    copied in. The reference's distribution instead keeps one closed form
    per path: ``per_path[t]`` is the mean size of ``t``'s value over the
    distributed paths it stands for, and ``distributed`` sums the tests each
    conditional would repeat on every path it runs on.
    """

    def __init__(self, params: set[str], merging: bool) -> None:
        self.defs: dict[str, ast.expr] = {}
        self.merged = False
        self.unfolded: dict[str, float] = {}
        self.per_path: dict[str, float] = {}
        self.distributed = 0.0
        self._params = params
        self._merging = merging
        self._unfolded_memo: dict[int, tuple[ast.AST, float]] = {}
        self._per_path_memo: dict[int, tuple[ast.AST, float]] = {}
        self._reads_row_memo: dict[int, tuple[ast.AST, bool]] = {}

    def unfolded_size(self, expr: ast.expr) -> float:
        return _sized(expr, self.unfolded, self._unfolded_memo)

    def per_path_size(self, expr: ast.expr) -> float:
        return _sized(expr, self.per_path, self._per_path_memo)

    def _reads_row(self, node: ast.AST) -> bool:
        """Whether ``node`` reads a parameter or a temporary."""
        if isinstance(node, ast.Name):
            return node.id in self._params or node.id in self.defs
        hit = self._reads_row_memo.get(id(node))
        if hit is None:
            reads = any(self._reads_row(child) for child in ast.iter_child_nodes(node))
            hit = self._reads_row_memo[id(node)] = (node, reads)
        return hit[1]

    def _is_column(self, value: ast.expr) -> bool:
        """Whether ``value`` is a Column before any merge wraps it: it reads
        a parameter (sparkify's arguments are Columns) or a temporary, or it
        calls an ``F.`` function. A constant, a global or a bare function
        (``F.abs``) may be needed as a plain Python value later on."""
        if self._reads_row(value):
            return True
        root = value
        while isinstance(root, (ast.Call, ast.Attribute)):
            root = root.func if isinstance(root, ast.Call) else root.value
        return isinstance(value, ast.Call) and isinstance(root, ast.Name) and root.id == "F"

    def merge(self, arms: list[tuple[ast.expr, Node]], default: Node, paths: int) -> Node:
        """Close a conditional, run on ``paths`` distributed paths, whose
        arms all fell through.

        When every arm and the default are Open and bind the same set of
        names, and every name they bind differently holds a Column on every
        path, the conditional collapses back into one Open node: a name all
        paths agree on keeps its value, and each other name becomes a
        temporary ``F.when(t1, v1)....otherwise(v_default)``, referenced by
        name from then on. Later statements are then applied once instead of
        once per arm, so sequential conditionals grow the program linearly.
        Anything else (an arm returned, the arms bind different names, or a
        differing value is a plain Python value such as a column name or a
        ``round`` scale) stays a Switch, and later statements distribute into
        its open leaves (reference main.py:275-289).
        """
        if not arms:
            # O2 — every match case was statically dead.
            return default
        if not self._merging:
            return Switch(arms, default)
        # Distributed, the tests (and a `when` call each) repeat on every path.
        self.distributed += paths * sum(self.per_path_size(t) + 2 for t, _ in arms)
        branches = [sub for _, sub in arms] + [default]
        if not all(isinstance(b, Open) for b in branches):
            return Switch(arms, default)
        opens: list[Open] = branches  # type: ignore[assignment]
        if any(o.env.keys() != opens[0].env.keys() for o in opens[1:]):
            return Switch(arms, default)
        differing: dict[str, list[ast.expr]] = {}
        for name, first in opens[0].env.items():
            values = [o.env[name] for o in opens]
            if not all(_same(v, first) for v in values[1:]):
                if not all(self._is_column(v) for v in values):
                    return Switch(arms, default)
                differing[name] = values
        self.merged = True
        total_paths = sum(o.paths for o in opens)
        merged = dict(opens[0].env)
        for name, values in differing.items():
            temp = f"{_LET_PREFIX}{len(self.defs)}"
            value = when_chain(
                [(test, v) for (test, _), v in zip(arms, values)], values[-1]
            )
            self.defs[temp] = value
            self.unfolded[temp] = self.unfolded_size(value)
            self.per_path[temp] = (
                sum(o.paths * self.per_path_size(v) for o, v in zip(opens, values))
                / total_paths
            )
            merged[name] = ast.Name(id=temp, ctx=ast.Load())
        return Open(merged, total_paths)


def _if(node: Open, stmt: ast.If, lets: _Lets) -> Node:
    # S5 — an `if` on a live path becomes a single-arm conditional; the elif
    # chain lives in stmt.orelse and therefore nests inside the default,
    # giving the nested (not flat) chain shape of the reference
    # (main.py:275-289).
    return lets.merge(
        [
            (
                substitute(stmt.test, node.env),
                _compile_block(stmt.body, dict(node.env), lets, node.paths),
            )
        ],
        _compile_block(stmt.orelse, dict(node.env), lets, node.paths),
        node.paths,
    )


# -- match statements -------------------------------------------------------


def _is_catch_all(case: ast.match_case) -> bool:
    """A trailing ``case _:`` with no guard; Python guarantees it is last."""
    return (
        isinstance(case.pattern, ast.MatchAs)
        and case.pattern.name is None
        and case.guard is None
    )


def _is_statically_dead(subject: ast.expr, case: ast.match_case) -> bool:
    """Dead-case elision, reference ``ignore_case`` main.py:311-317: a
    sequence pattern whose arity differs from a literal tuple subject, or a
    value pattern against a tuple subject, can never match."""
    if isinstance(subject, ast.Tuple):
        if isinstance(case.pattern, ast.MatchSequence):
            return len(subject.elts) != len(case.pattern.patterns)
        if isinstance(case.pattern, ast.MatchValue):
            return True
    return False


def _pattern_test(
    env: dict[str, ast.expr],
    subject: ast.expr,
    pattern: ast.pattern,
    guard: ast.expr | None,
) -> ast.expr | None:
    """Translate one match pattern into a plain boolean ``ast.expr`` (not yet
    substituted), binding capture names into ``env`` as a side effect.

    Returns ``None`` when the pattern imposes no constraint (a bare capture),
    so callers can AND partial tests together. Mirrors reference
    ``translate_match`` (main.py:189-262) including the quirk that capture
    bindings land in the *shared* env, visible to later cases.
    """
    if isinstance(pattern, ast.MatchValue):
        # M1 — `case 3:` -> subject == 3, guard ANDed in front.
        test: ast.expr = ast.Compare(
            left=subject, ops=[ast.Eq()], comparators=[pattern.value]
        )
        if guard is not None:
            test = ast.BinOp(left=guard, op=ast.BitAnd(), right=test)
        return test
    if isinstance(pattern, ast.MatchAs):
        # M2 — `case y ...:` binds y = subject (eagerly substituted), then the
        # only constraint is the guard. A bare `case y:` with no guard crashes
        # the reference with an unhelpful NoneType error (verified; SURVEY.md
        # section 2.2 M2) — we raise the same ValueError type with a clear
        # message.
        if pattern.name is not None:
            _bind(env, ast.Name(id=pattern.name, ctx=ast.Store()), subject)
        return guard
    if isinstance(pattern, ast.MatchOr):
        # M3 — `case 0 | 1:` right-folds into BitOr of the alternatives.
        first, rest = pattern.patterns[0], pattern.patterns[1:]
        left = _pattern_test(env, subject, first, guard)
        if len(rest) == 1:
            right = _pattern_test(env, subject, rest[0], None)
        else:
            right = _pattern_test(env, subject, ast.MatchOr(patterns=list(rest)), None)
        if left is None or right is None:
            raise TranspileError("capture patterns inside `|` alternatives are not supported")
        return ast.BinOp(left=left, op=ast.BitOr(), right=right)
    if isinstance(pattern, ast.MatchSequence):
        # M4 / M7 / M8 — element-wise AND over a literal tuple subject; star
        # patterns and non-tuple subjects rejected (main.py:237-258).
        if any(isinstance(p, ast.MatchStar) for p in pattern.patterns):
            raise TranspileError("starred patterns are not supported.")
        if not isinstance(subject, ast.Tuple):
            raise TranspileError("Matching lists is not supported.")
        parts: list[ast.expr] = []
        if guard is not None:
            parts.append(guard)
        for sub_subject, sub_pattern in zip(subject.elts, pattern.patterns):
            part = _pattern_test(env, sub_subject, sub_pattern, None)
            if part is not None:
                parts.append(part)
        if not parts:
            return None
        test = parts[0]
        for part in parts[1:]:
            test = ast.BinOp(left=test, op=ast.BitAnd(), right=part)
        return test
    # M9 — mapping/class/other patterns.
    if isinstance(pattern, ast.MatchMapping):
        raise TranspileError(
            f"Incompatible match and subject types: {type(pattern)} "
            "(ast.MatchMapping and class patterns are not supported)."
        )
    if isinstance(pattern, ast.MatchClass):
        raise TranspileError(
            f"Incompatible match and subject types: {type(pattern)} "
            "(class patterns are not supported)."
        )
    raise TranspileError(
        f"Incompatible match and subject types: {type(pattern)} and {type(subject)}."
    )


def _match(node: Open, stmt: ast.Match, lets: _Lets) -> Node:
    # S8 — one *flat* conditional with an arm per live case (contrast nested
    # `if`). Capture bindings mutate node.env during translation *before*
    # each case body is compiled with a copy — reference behavior
    # (main.py:325-343), including bindings from earlier cases being visible
    # to later ones.
    default_body: list[ast.stmt] = []
    for case in stmt.cases:
        if _is_catch_all(case):
            default_body = case.body
            break
    arms: list[tuple[ast.expr, Node]] = []
    for case in stmt.cases:
        if _is_catch_all(case) or _is_statically_dead(stmt.subject, case):
            continue
        raw_test = _pattern_test(node.env, stmt.subject, case.pattern, case.guard)
        if raw_test is None:
            raise TranspileError(
                "match case imposes no constraint and is not a catch-all; "
                "this pattern is not supported"
            )
        arms.append(
            (
                substitute(raw_test, node.env),
                _compile_block(case.body, dict(node.env), lets, node.paths),
            )
        )
    return lets.merge(
        arms, _compile_block(default_body, dict(node.env), lets, node.paths), node.paths
    )


# -- the function compiler --------------------------------------------------


def _compile_block(
    stmts: list[ast.stmt], env: dict[str, ast.expr], lets: _Lets, paths: int = 1
) -> Node:
    """Fold a statement list into a branch tree (reference ``parse_body``,
    main.py:350-369). Statements after a block-level ``return`` are dead code
    and skipped."""
    node: Node = Open(env, paths)
    for stmt in stmts:
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            node = _on_open(node, lambda open_: _assign(open_, stmt))
        elif isinstance(stmt, ast.If):
            node = _on_open(node, lambda open_: _if(open_, stmt, lets))
        elif isinstance(stmt, ast.Return):
            if stmt.value is None:
                # S7 — the generated expression must produce a value.
                raise TranspileError("return needs a value")
            value = stmt.value
            node = _on_open(node, lambda open_: Leaf(substitute(value, open_.env), open_.paths))
            break  # O4 — dead-code elimination after a block-level return.
        elif isinstance(stmt, ast.Match):
            if not _MATCH_SUPPORTED:  # pragma: no cover - py>=3.10 here
                raise TranspileError("match statements need Python >= 3.10")
            node = _on_open(node, lambda open_: _match(open_, stmt, lets))
        else:
            # S9 — loops, with, nested def, global, expression statements...
            raise TranspileError(f"Unsupported statement type: {type(stmt)}")
    return node


def _tree_to_expr(node: Node) -> ast.expr:
    """Resolve a branch tree into one expression (reference
    ``transform_tree_into_expr``, main.py:372-388)."""
    if isinstance(node, Leaf):
        return node.expr
    if isinstance(node, Switch):
        return when_chain(
            [(test, _tree_to_expr(sub)) for test, sub in node.arms],
            _tree_to_expr(node.default),
        )
    raise TranspileError("Not all branches return")


#: How many times larger than the reference's distributed tree a merged
#: program may unfold in Catalyst and still be emitted. Catalyst has no
#: let, so it analyzes each temporary once per use; but codegen's
#: subexpression elimination computes the copies once, while the distributed
#: tree repeats every later statement per path and overflows codegen's
#: method limits. An if/elif pair that tests and updates ``x`` reads the
#: previous ``x`` five times, so n such pairs unfold to ~5^n copies against
#: ~3^n distributed paths. Measured on a 4-core host (``local[2]``, 2 GB
#: driver heap, 200k rows): 6 pairs merged (6.5x the distributed size) took
#: 15.0 s against 32.8 s distributed; 7 pairs merged (10x) ran out of a 4 GB
#: heap where the distributed form takes 180 s.
_MERGE_FACTOR = 8


def _column_use(parent: ast.AST, child: ast.expr) -> bool:
    """Whether ``child`` is used by ``parent`` as a Column: an operand of an
    operator or a ``when``/``otherwise`` argument. Any other use (a call
    argument such as a ``round`` scale, a call target, a keyword, an
    attribute receiver) may need the plain Python value an arm bound."""
    if isinstance(parent, (ast.BinOp, ast.UnaryOp, ast.Compare)):
        return True
    return (
        isinstance(parent, ast.Call)
        and isinstance(parent.func, ast.Attribute)
        and parent.func.attr in ("when", "otherwise")
        and any(arg is child for arg in parent.args)
    )


def _column_uses_only(defs: dict[str, ast.expr], result: ast.expr) -> bool:
    """Whether every use of a temporary in ``defs`` and ``result`` is a
    Column use; shared subtrees are checked once."""
    seen: set[int] = set()
    stack: list[ast.AST] = [*defs.values(), result]
    while stack:
        node = stack.pop()
        if id(node) in seen:
            continue
        seen.add(id(node))
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Name) and child.id in defs and not _column_use(node, child):
                return False
            stack.append(child)
    return True


def _leaves(node: Node) -> list[Leaf]:
    if isinstance(node, Leaf):
        return [node]
    if isinstance(node, Switch):
        return [leaf for _, sub in node.arms for leaf in _leaves(sub)] + _leaves(node.default)
    raise TranspileError("Not all branches return")


def compile_function(func: ast.FunctionDef | ast.AsyncFunctionDef) -> list[ast.stmt]:
    """Compile a function's body into its vectorized body: assignments of
    the let-bound temporaries, then one ``return``.

    Fall-through conditionals are merged into temporaries unless a temporary
    would be used as anything but a Column, or the merged program, with
    every temporary copied into each use as Catalyst does, would be more
    than ``_MERGE_FACTOR`` times the size of the reference's distributed
    tree; then the whole body is compiled without merging, as the reference
    does. (Merging some conditionals and distributing later ones would copy
    the merged temporaries onto every later path, larger than either.)

    A temporary nobody uses is dropped and one used once is inlined, so a
    body without fall-through conditionals, or with a single if/elif chain,
    compiles to one ``return`` expression. No parameter, and no name the
    body mentions, may start with ``_LET_PREFIX``. A body that merged a
    conditional and then returns an expression of no parameter and no
    temporary (a constant, say) returns it wrapped in ``F.lit`` so the
    result is still a Column.
    """
    a = func.args
    params = [
        p.arg
        for p in (*a.posonlyargs, *a.args, a.vararg, *a.kwonlyargs, a.kwarg)
        if p is not None
    ]
    mentioned = {
        n.id if isinstance(n, ast.Name) else n.arg if isinstance(n, ast.arg) else n.name
        for n in ast.walk(func)
        if isinstance(n, (ast.Name, ast.arg, ast.MatchAs, ast.MatchStar))
    }
    clashes = sorted(n for n in mentioned if n and n.startswith(_LET_PREFIX))
    if clashes:
        raise TranspileError(
            f"names starting with {_LET_PREFIX!r} are reserved for the generated "
            f"temporaries; rename {', '.join(clashes)}"
        )

    def compile_body(merging: bool) -> tuple[_Lets, Node]:
        lets = _Lets(set(params), merging)
        env: dict[str, ast.expr] = {p: ast.Name(id=p, ctx=ast.Load()) for p in params}
        return lets, _compile_block(func.body, env, lets)

    lets, tree = compile_body(merging=True)
    result = _tree_to_expr(tree)
    if lets.merged:
        distributed = lets.distributed + sum(
            leaf.paths * lets.per_path_size(leaf.expr) for leaf in _leaves(tree)
        )
        if not (
            _column_uses_only(lets.defs, result)
            and lets.unfolded_size(result) <= _MERGE_FACTOR * distributed
        ):
            lets, tree = compile_body(merging=False)
            result = _tree_to_expr(tree)

    # Count uses over the live definitions only: a temporary refers only to
    # earlier ones, so walking backwards counts every user before its target.
    # A use inside a shared subtree counts once per place it is printed.
    memo: dict[int, tuple[ast.AST, Counter[str]]] = {}

    def refs(node: ast.AST) -> Counter[str]:
        if isinstance(node, ast.Name):
            return Counter([node.id] if node.id in lets.defs else [])
        hit = memo.get(id(node))
        if hit is None:
            counts: Counter[str] = Counter()
            for child in ast.iter_child_nodes(node):
                counts.update(refs(child))
            hit = memo[id(node)] = (node, counts)
        return hit[1]

    uses = refs(result) if lets.defs else Counter()
    for name in reversed(lets.defs):
        if uses[name]:
            uses.update(refs(lets.defs[name]))
    inline: dict[str, ast.expr] = {}
    out: list[ast.stmt] = []
    for name, value in lets.defs.items():
        if not uses[name]:
            continue
        value = substitute(value, inline)
        if uses[name] == 1:
            inline[name] = value
        else:  # kept; renumbered so the emitted names run _let_0, _let_1, ...
            kept = f"{_LET_PREFIX}{len(out)}"
            inline[name] = ast.Name(id=kept, ctx=ast.Load())
            out.append(ast.Assign(targets=[ast.Name(id=kept, ctx=ast.Store())], value=value))
    if inline:
        result = substitute(result, inline)
    if lets.merged and not any(
        n in params or n.startswith(_LET_PREFIX) for n in _names(result)
    ):
        result = ast.Call(
            func=ast.Attribute(value=ast.Name(id="F", ctx=ast.Load()), attr="lit", ctx=ast.Load()),
            args=[result],
            keywords=[],
        )
    return [*out, ast.Return(value=result)]
