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

# Textual rewrite of the reference's named arithmetic functions into native
# operators — keeps execution inside whole-stage codegen.
_NAMED_ARITH = {
    "add": "+",
    "subtract": "-",
    "multiply": "*",
    "divide": "/",
}


def rewrite_named_arithmetic(sql: str) -> str:
    """Rewrite `add(a, b)` → `(a + b)` etc., innermost-first with balanced-paren
    argument scanning (reference function registry parity)."""
    import re

    head = re.compile(r"(?i)\b(add|subtract|multiply|divide)\s*\(")
    changed = True
    out = sql
    while changed:
        changed = False
        for m in head.finditer(out):
            # scan the balanced argument list starting after the open paren
            depth, args, cur = 1, [], []
            i = m.end()
            while i < len(out) and depth > 0:
                ch = out[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                elif ch == "," and depth == 1:
                    args.append("".join(cur))
                    cur = []
                    i += 1
                    continue
                cur.append(ch)
                i += 1
            if depth != 0:
                continue  # unbalanced; leave untouched
            args.append("".join(cur))
            if len(args) != 2:
                continue
            op = _NAMED_ARITH[m.group(1).lower()]
            a, b = (rewrite_named_arithmetic(x.strip()) for x in args)
            out = out[: m.start()] + f"({a} {op} {b})" + out[i + 1 :]
            changed = True
            break
    return out
