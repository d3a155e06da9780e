# ruff: noqa
# This file is a *fixture corpus*: the AST of every function here is the test
# input, so nothing may reformat it. Covers the operator inventory of
# SURVEY.md section 2 (S1-S9, M1-M9, E1-E9); the reference's corpus lives at
# /root/reference/tests/functions.py and functions_310.py — ours reimplements
# the same semantic coverage plus extra cases for the bug-fix deviations.

# --- S5 / S1 / E7: branches + assignments ----------------------------------


def sign_with_default(x):
    s = 0
    if x > 0:
        s = 1
    elif x < 0:
        s = -1
    return s


def sign_early_returns(x):
    if x > 0:
        return 1
    elif x < 0:
        return -1
    return 0


def single_early_return(x):
    if x > 0:
        return 1
    return 0


def both_branches_assign(x):
    if x > 0:
        s = 1
    else:
        s = -1
    return s


def nested_partial_returns(x):
    if x > 0:
        s = 1
        if x > 1:
            s = 2
            return s + x
        else:
            s = -1
    else:
        return -5 - x
    return s * x


def deep_nesting(x):
    if x > 0:
        if x > 1:
            s = 2
        else:
            s = 1
    elif x < 0:
        s = -1
    else:
        s = 0
    return s


def branch_local_chained_assigns(x):
    if x > 0:
        s = 1
        s = s + 1
        s = x * s
    elif x < 0:
        s = -1
        s = s - 1
        s = x
    else:
        s = 0
    return s


def default_overridden(x):
    s = 0
    if x > 0:
        s = 10
    return x * s


def sequential_ifs(x):
    s = 1
    if x > 0:
        s = 2
    if x > 1:
        s = 3
    return s


def three_sequential_ifs(x):
    s = 0
    if x > -10:
        s = s + 1
    if x > 0:
        s = s + 2
    if x > 10:
        s = s + 4
    return s


def assign_after_branch(x):
    s = 1
    if x > 0:
        s = 2
    b = 3
    return b


def unconditional_const_after_branch(x):
    if x > 0:
        s = 1
    else:
        s = 2
    return 1


def const_after_merged_branch(x):
    # the merged branch binds Columns, then a constant is returned: F.lit
    # keeps the result a Column, as the distributed when-chain was
    y = x
    if x > 0:
        y = x * 2
    return 7


def conditional_const_return(x):
    if x > 0:
        return 1
    return 0


# --- S5 / S8 merge fallbacks: later statements distribute into the arms ------


def fallback_arm_returns(x):
    s = x
    if x > 5:
        return s * 2
    elif x < -5:
        s = -x
    if s > 3:
        s = s - 3
    return s


def fallback_arm_binds_extra_name(x):
    s = 1
    if x > 0:
        t = x * 2
        s = t + 1
    else:
        s = -x
    if s > 4:
        s = s - 4
    return s


def fallback_match_capture(x):
    s = 0
    match x:
        case 1:
            s = x + 9
        case y if y > 5:
            s = y * 2
        case _:
            s = -x
    if s > 8:
        s = s - 8
    return s


def rebind_parameter(x):
    y = x + 1
    if x > 3:
        x = x - 3
    x = x * 2
    return x + y


# --- S5 growth pin: sequential dependent if/elif pairs -----------------------


def chain_of_eight_pairs(a, p, q):
    x = a + p - q
    if a > 40:
        x = x - 3 * p
    elif p < 0:
        x = a + 5 * q
    if q > 2:
        x = x - 2 * q
    elif a < -30:
        x = q + 4 * p
    if p > 1:
        x = x - 6 * p
    elif q < 0:
        x = a + 3 * q
    if a > 10:
        x = x - 5 * q
    elif a < -10:
        x = p + 2 * a
    if q > 0:
        x = x - 4 * p
    elif p < -2:
        x = a + 6 * q
    if a > 25:
        x = x - 3 * q
    elif q < -1:
        x = q + 5 * p
    if p > 0:
        x = x - 2 * p
    elif a < -45:
        x = a + 4 * q
    if a > 5:
        x = x - 6 * q
    elif q < 1:
        x = p + 3 * a
    return x


# --- S5 merge vs distribution: chains whose tests read the merged value ------
# Catalyst copies a temporary into each use. Each pair below reads the
# previous x five times (two tests, three values), so merging n pairs
# unfolds to ~5^n copies against ~3^n distributed paths: four pairs merge,
# seven compile like the reference.


def chain_of_four_pairs(a, p, q):
    x = a + p - q
    if x > 40:
        x = x - 3 * p
    elif x < -40:
        x = x + 5 * q
    if x > 30:
        x = x - 2 * q
    elif x < -30:
        x = x + 4 * p
    if x > 20:
        x = x - 6 * p
    elif x < -20:
        x = x + 3 * q
    if x > 10:
        x = x - 5 * q
    elif x < -10:
        x = x + 2 * p
    return x


def chain_of_seven_pairs(a, p, q):
    x = a + p - q
    if x > 40:
        x = x - 3 * p
    elif x < -40:
        x = x + 5 * q
    if x > 30:
        x = x - 2 * q
    elif x < -30:
        x = x + 4 * p
    if x > 20:
        x = x - 6 * p
    elif x < -20:
        x = x + 3 * q
    if x > 10:
        x = x - 5 * q
    elif x < -10:
        x = x + 2 * p
    if x > 35:
        x = x - 4 * p
    elif x < -35:
        x = x + 6 * q
    if x > 25:
        x = x - 3 * q
    elif x < -25:
        x = x + 5 * p
    if x > 15:
        x = x - 2 * p
    elif x < -15:
        x = x + 4 * q
    return x


def guarded_steps(x):
    # each step reads x six times and has two paths: merged, five steps
    # unfold ~24x larger than the distributed tree, so they distribute
    if (x > -50) & (x < 50) & (x != 7) & (x != -7):
        x = x * 2 - 3
    if (x > -50) & (x < 50) & (x != 7) & (x != -7):
        x = x * 2 - 3
    if (x > -50) & (x < 50) & (x != 7) & (x != -7):
        x = x * 2 - 3
    if (x > -50) & (x < 50) & (x != 7) & (x != -7):
        x = x * 2 - 3
    if (x > -50) & (x < 50) & (x != 7) & (x != -7):
        x = x * 2 - 3
    return x


# --- S5 merge: arms that bind plain Python values distribute ----------------
# Their originals build Columns (`F` is bound in the generated function), so
# they are checked in Spark against hand-written row values.


def conditional_column_name(x):
    name = "a"
    if x > 0:
        name = "b"
    return F.col(name) + x


def conditional_round_scale(x):
    d = 1
    if x > 0:
        d = 2
    return F.round(x / 7, d)


def conditional_function(x):
    op = F.abs
    if x > 5:
        op = F.negative
    return op(x)


def conditional_scale_from_argument(x, n):
    # n arrives as a plain int; the merged temporary would be a Column
    if x > 0:
        k = n + 1
    else:
        k = n
    return F.round(x / 7, k)


# --- S1-S4: assignment forms ------------------------------------------------


def straight_line(x):
    s = x * 10
    k = x - 3
    k = k * 2
    return s * k


def negate(x):
    s = -x
    return s


def annotated(x):
    s: int = 15
    return s + x


def chained_targets(x):
    a = b = 1
    return x + a + b


def tuple_unpack(x):
    a, b = 1, x
    return x + a + b


def list_unpack(x):
    [a, b] = 1, x
    return x + a + b


def nested_unpack(x):
    (a, b), c = (1, x), 2
    return a + b + c


# --- E4: calls (including the receiver-inlining fix) ------------------------


def _identity_helper(x):
    return x


def helper_call(x):
    k = x * 2
    s = _identity_helper(k + 3)
    return s


def kwarg_call(x):
    s = _identity_helper(x=x + 1)
    return s


# --- E5: conditional expressions --------------------------------------------


def ternary(x):
    s = 1 if x > 0 else -1
    return s


def ternary_in_arith(x):
    s = 1 + (x if x > 0 else -1)
    return s


def nested_ternary(x):
    s = 1 + ((3 if x < 10 else 5) if x > 0 else -1)
    return s


def two_ternaries(x):
    a = 1 if x > 0 else 5
    b = 2 if x < 0 else 2
    return a + b


# --- E2 / E7: operators and comparisons -------------------------------------


def bitand_compare(x):
    if (0 < x) & (x < 10):
        s = 1
    else:
        s = 2
    return s


def bitor_compare(x):
    if (x < -5) | (x > 5):
        return 1
    return 0


def arith_mix(x):
    # note: the modulus operand is kept non-negative because Python's `%`
    # follows the divisor's sign while Spark (and SQL) follow the dividend's.
    a = x * 3 + 2 - 1
    b = (a * a) % 7
    return a + b


# --- S8 / M*: match statements (Python >= 3.10) -----------------------------


def match_literals(x):
    s = 0
    match x:
        case 0:
            s = 1
        case 2:
            s = -1
        case _:
            s = 0
    return s


def match_no_catch_all(x):
    s = 0
    match x:
        case 0:
            s = 1
        case 2:
            s = -1
        case 3:
            s = 0
    return s


def match_or_pattern(x):
    match x:
        case 0 | 1:
            return 0
        case 2:
            return 2 * x
        case 3:
            return 3 * x
    return x


def match_early_returns(x):
    match x:
        case 0:
            return 0
        case 1:
            return 2 * x
        case 2:
            return 3 * x
    return x


def match_inside_match(x):
    match x:
        case 0:
            match x:
                case 0:
                    return 1
                case 1:
                    return 2
            return 3
        case 1:
            return 4
    return 5


def match_then_match(x):
    match x:
        case 0:
            return 1
        case 1:
            return 2
    match x:
        case 0:
            return 3
        case 1:
            return 4
    return x


def match_tuple_subject(x):
    y = 3
    match x, y:
        case 1, 3:
            return 1
        case _:
            return 5


def match_value_guard(x):
    match x:
        case 5 if x > 3:
            return 1
        case _:
            return 5


def match_capture_guard(x):
    match x:
        case y if y > 5:
            return 1
        case _:
            return 5


def match_capture_guard_tuple(x):
    y = 3
    match x, y:
        case 1, z if z > 3:
            return 1
        case z, 3 if z > 3:
            return 2
        case _:
            return 5


def match_arity_mismatch_cases(x):
    y = 2
    z = 3
    match x, y, z:
        case 0, 1, 2:
            return 0
        case 1, 2:
            return 1
        case 2:
            return 2
    return x


def match_capture_body_assign(x):
    match x:
        case y if x > 1:
            y = y * 2
            return y
        case _:
            return x


def match_capture_assign_fallthrough(x):
    match x:
        case y if x > 1:
            y = y * 2
        case _:
            return x

    return y + 2


def match_computed_subject(x):
    match x + 2:
        case 3:
            return 1
        case _:
            return x


def match_guarded_wildcard(x):
    match x:
        case 1:
            return 0
        case _ if x > 1:
            return 2

    return 3


def match_wildcard_guard_only(x):
    match x:
        case _ if x > 1:
            return 0
        case _:
            return 2


def match_all_cases_dead(x):
    y = 2
    z = None

    match x, y, z:
        case 1, 2:
            return 1
        case _:
            return x


def match_dead_case_then_fallthrough(x):
    y = 1
    z = 2

    match x, y, z:
        case 1, 2:
            x = 4
            return 1
    return x


# --- unsupported constructs: (function, error-message fragment) -------------


def chained_comparison(x):
    if 0 < x < 10:
        s = 1
    else:
        s = 2
    return s


def bool_op_and(x):
    if (0 < x) and (x < 10):
        return 0
    else:
        return 1


def bare_return(x):
    s = x
    return


def missing_return(x):
    s = x


def bare_return_in_branch(x):
    if x > 0:
        return
    else:
        return 1


def for_loop(x):
    s = 0
    for i in [1, 2, 3]:
        s = s + i
    return s


def while_loop(x):
    while x > 0:
        x = x - 1
    return x


def walrus(x):
    if (y := x + 1) > 0:
        s = 1
    else:
        s = -1
    return s * y


def star_unpack(x):
    b, *a = [1, 2]
    return x


def set_literal_unpack(x):
    [a, b] = {1, 2}
    return x


def global_stmt(x):
    global _G
    _G = 1
    return x + _G


def match_mapping_pattern(x):
    match x:
        case {1: 2}:
            return 1
        case _:
            return x


def match_star_pattern(x):
    match x:
        case 0, *rest:
            return rest
        case 1:
            return 1
    return x


def match_list_subject(x):
    match x:
        case 0, 1:
            return 0
        case 2:
            return 2 * x
    return x


def match_bracket_list(x):
    match x:
        case [0, 1]:
            return 0
        case 2:
            return 2 * x
    return x


def match_missing_branch(x):
    match x:
        case 1:
            return 0
        case _ if x > 1:
            return 2


def match_bare_capture_no_guard(x):
    match x:
        case y:
            return y


# --- corpora ----------------------------------------------------------------

# Functions whose transpiled Column must equal the row-wise original.
VECTORIZABLE = [
    sign_with_default,
    sign_early_returns,
    single_early_return,
    both_branches_assign,
    nested_partial_returns,
    deep_nesting,
    branch_local_chained_assigns,
    default_overridden,
    sequential_ifs,
    three_sequential_ifs,
    assign_after_branch,
    unconditional_const_after_branch,
    const_after_merged_branch,
    conditional_const_return,
    fallback_arm_returns,
    fallback_arm_binds_extra_name,
    fallback_match_capture,
    rebind_parameter,
    straight_line,
    negate,
    annotated,
    chained_targets,
    tuple_unpack,
    list_unpack,
    nested_unpack,
    helper_call,
    kwarg_call,
    ternary,
    ternary_in_arith,
    nested_ternary,
    two_ternaries,
    bitand_compare,
    bitor_compare,
    arith_mix,
    match_literals,
    match_no_catch_all,
    match_or_pattern,
    match_early_returns,
    match_inside_match,
    match_then_match,
    match_tuple_subject,
    match_value_guard,
    match_capture_guard,
    match_capture_guard_tuple,
    match_arity_mismatch_cases,
    match_capture_body_assign,
    match_capture_assign_fallthrough,
    match_computed_subject,
    match_guarded_wildcard,
    match_wildcard_guard_only,
    match_all_cases_dead,
    match_dead_case_then_fallthrough,
]

# --- opt-in rewrite corpus (VERDICT r10 ask #5) ------------------------------
# Functions legal ONLY under allow_boolops / allow_chained_comparisons.
# Every boolop/`not` sits in CONDITION position over boolean-valued
# operands, so Python's truthiness equals the `&`/`|`/`~` rewrite exactly;
# `%` only ever compares against 0 (Spark's sign-of-dividend `%` and
# Python's sign-of-divisor `%` agree on zeroness). These run through the
# engine row-oracle in tests/test_engine_hypothesis.py with the flags on.


def flag_band_window(x):
    if (0 < x) and (x < 10):
        return 1
    return 0


def flag_or_ends(x):
    if (x < -5) or (x > 5):
        return 1
    else:
        return 0


def flag_not_positive(x):
    if not (x > 0):
        return -1
    return 1


def flag_not_with_and(x):
    if (not (x < 0)) and (x != 3):
        return x + 1
    return 0


def flag_mixed_and_or(x):
    if ((x > 0) and (x < 100)) or (x == -1):
        return 1
    return 0


def flag_three_way_and(x):
    if (x > 0) and (x % 2 == 0) and (x != 8):
        s = 1
    else:
        s = 0
    return s


def flag_boolop_in_ternary(x):
    return 1 if (x > 0) and (x % 2 == 0) else 0


def flag_boolop_in_guard(x):
    match x:
        case v if (v > 0) and (v < 10):
            return 1
        case _:
            return 0


def flag_chained_window(x):
    if -3 <= x <= 3:
        s = x * 2
    else:
        s = 0
    return s


def flag_chained_strict(x):
    if 0 < x < 10:
        return x
    return -x


def flag_chained_four_operands(x):
    if -100 <= x < 0 < x + 50:
        return 1
    return 0


def flag_chained_in_elif(x):
    if x > 100:
        return 2
    elif 0 <= x <= 100:
        return 1
    return 0


def flag_chained_and_boolop(x):
    if (0 <= x <= 50) or (x == -7):
        return 1
    return 0


def flag_chained_in_ternary(x):
    return x + 1 if 1 < x < 5 else x - 1


#: legal only with BOTH flags on: boolop over a chained comparison
FLAGGED_VECTORIZABLE = [
    flag_band_window,
    flag_or_ends,
    flag_not_positive,
    flag_not_with_and,
    flag_mixed_and_or,
    flag_three_way_and,
    flag_boolop_in_ternary,
    flag_boolop_in_guard,
    flag_chained_window,
    flag_chained_strict,
    flag_chained_four_operands,
    flag_chained_in_elif,
    flag_chained_and_boolop,
    flag_chained_in_ternary,
]


# (function, fragment expected in the TranspileError message)
REJECTED = [
    (chained_comparison, "chained comparisons"),
    (bool_op_and, "ast.BoolOp"),
    (bare_return, "return needs a value"),
    (bare_return_in_branch, "return needs a value"),
    (missing_return, "Not all branches return"),
    (for_loop, "Unsupported statement type"),
    (while_loop, "Unsupported statement type"),
    (walrus, "Unsupported expression type"),
    (star_unpack, "starred assignment targets"),
    (set_literal_unpack, "Assignment target is"),
    (global_stmt, "Unsupported statement type"),
    (match_mapping_pattern, "ast.MatchMapping"),
    (match_star_pattern, "starred patterns are not supported."),
    (match_list_subject, "Matching lists is not supported."),
    (match_bracket_list, "Matching lists is not supported."),
    (match_missing_branch, "Not all branches return"),
    (match_bare_capture_no_guard, "no constraint"),
]
