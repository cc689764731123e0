"""Scalar function surface — parity with the reference's v2 named arithmetic.

The reference registers `add/subtract/multiply/divide` scalar functions with
overload resolution over 10 numeric types plus Date ± Interval overloads
(reference: function/mod.rs:59-67, function/scalar/arithmetic_function.rs:61-261,
planner/function_binder.rs:14-130). On Spark, overload resolution and implicit
casting are Catalyst's job, so nothing is registered: `Engine.sql` rewrites
the reference's query text (`select add(1, 2)`) into native operators
(`(1 + 2)`) before planning, keeping execution JVM-side inside whole-stage
codegen — no Python UDF, no temp function. Spark's `/` returns double where
the reference divides integers; that divergence is kept (SURVEY.md §7 risk 1).
"""

from __future__ import annotations

# The reference's named arithmetic functions and the native operators they
# are rewritten into — keeps execution inside whole-stage codegen.
_NAMED_ARITH = {
    "add": "+",
    "subtract": "-",
    "multiply": "*",
    "divide": "/",
}


def rewrite_named_arithmetic(sql: str) -> str:
    """Rewrite `add(a, b)` → `(a + b)` etc. on the lexed query: calls inside
    literals, comments or qualified names (`t.add(`) are left alone, and the
    arguments of each outermost two-argument call are rewritten first
    (reference function registry parity). Unbalanced parentheses leave the
    text to Spark's parser."""
    from templatedb_spark.sqlparse import SqlSyntaxError, apply_edits, find_calls

    low = sql.lower()
    try:
        calls = sorted(
            (start, end, name, args)
            for name in _NAMED_ARITH
            if name in low
            for start, end, args in find_calls(sql, name)
            if len(args) == 2 and all(args)
        )
    except SqlSyntaxError:
        return sql
    edits, reach = [], -1
    for start, end, name, args in calls:
        if start < reach:
            continue  # nested: rewritten with the call that encloses it
        a, b = (rewrite_named_arithmetic(sql[x[0].start : x[-1].end]) for x in args)
        edits.append((start, end, f"({a} {_NAMED_ARITH[name]} {b})"))
        reach = end
    return apply_edits(sql, edits)
