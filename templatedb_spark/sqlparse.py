"""A small quote/paren-aware SQL tokenizer and the clause-level analyses the
Engine's reference-semantics shims need.

This replaces the round-1..3 regex shims (`_ALIAS_RE`, `_STRICT_CMP_RE`, the
CSV rewrites) with token-stream rewrites, matching the reference binder's
identifier-resolution semantics (reference:
src/query_engine/src/binder/expression/mod.rs:177-231):

* unqualified identifiers resolve to a COLUMN of any in-scope table first;
  a select-list ALIAS is consulted only when no column matches — i.e. a
  column SHADOWS an alias of the same name;
* resolution is case-insensitive (identifiers are lowercased before lookup);
* a string literal compared to a numeric literal is a bind-time error
  (reference: function/comparison/default_comparison.rs:10-78,
  tests/slt/comparison_function.slt:1-8).

Tokens carry source offsets so rewrites are exact slice edits on the
original text — nothing inside string literals can ever be touched.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>--[^\n]*)
    | (?P<bcomment>/\*.*?\*/)
    | (?P<str>'(?:[^'\\]|''|\\.)*')
    | (?P<dq>"(?:[^"]|"")*")
    | (?P<bq>`[^`]*`)
    | (?P<num>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+)
    | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<op><>|!=|<=|>=|=>|::|\|\||[=<>+\-*/%])
    | (?P<punct>[(),.;\[\]{}:?])
    | (?P<other>.)
    """,
    re.VERBOSE | re.DOTALL,
)

_COMPARISON_OPS = {"=", "!=", "<>", "<", "<=", ">", ">="}

# Words that terminate an implicit alias position (reference grammar keywords).
_RESERVED = {
    "select", "from", "where", "group", "order", "limit", "offset", "having",
    "on", "using", "join", "inner", "left", "right", "full", "cross", "outer",
    "union", "intersect", "except", "as", "and", "or", "not", "by", "asc",
    "desc", "distinct", "values", "case", "when", "then", "else", "end",
    "between", "in", "is", "null", "like", "exists", "all", "any",
}


@dataclass(frozen=True)
class Token:
    kind: str  # str | dq | num | ident | op | punct
    text: str
    start: int
    end: int

    @property
    def lower(self) -> str:
        return self.text.lower()


class SqlSyntaxError(ValueError):
    """Raised when the shim-level scanner cannot make sense of the input."""


def tokenize(sql: str) -> list[Token]:
    """Lex into significant tokens (whitespace/comments dropped, offsets kept).

    Total: any character outside the grammar (backtick paths handled above;
    `&`, `~`, `@`, `$`, …) lexes as an opaque `other` token rather than
    raising — the shims only act on patterns they recognize, so unknown
    syntax must flow through to Spark untouched (the round-4 regression a
    review caught: Engine.sql must never be STRICTER than spark.sql)."""
    out: list[Token] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        kind = m.lastgroup
        if kind not in ("ws", "comment", "bcomment"):
            out.append(Token(kind, m.group(), m.start(), m.end()))
        pos = m.end()
    return out


def apply_edits(sql: str, edits: list[tuple[int, int, str]]) -> str:
    """Apply (start, end, replacement) edits; later offsets first."""
    for start, end, repl in sorted(edits, key=lambda e: e[0], reverse=True):
        sql = sql[:start] + repl + sql[end:]
    return sql


def _depth_profile(tokens: list[Token]) -> list[int]:
    """Paren depth BEFORE each token."""
    depths, d = [], 0
    for t in tokens:
        if t.text == ")":
            d -= 1
        depths.append(d)
        if t.text == "(":
            d += 1
    return depths


def match_paren(tokens: list[Token], open_idx: int) -> int:
    """Index of the ')' matching tokens[open_idx] == '('."""
    depth = 0
    for j in range(open_idx, len(tokens)):
        if tokens[j].text == "(":
            depth += 1
        elif tokens[j].text == ")":
            depth -= 1
            if depth == 0:
                return j
    raise SqlSyntaxError("unbalanced parentheses")


def split_top_level(tokens: list[Token], sep: str = ",") -> list[list[Token]]:
    """Split a token run on `sep` at paren depth 0."""
    out: list[list[Token]] = []
    cur: list[Token] = []
    depth = 0
    for t in tokens:
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        if t.text == sep and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    out.append(cur)
    return out


def top_level_clauses(tokens: list[Token]) -> dict[str, tuple[int, int]]:
    """Map clause name -> (first token idx AFTER the keyword, end idx exclusive)
    for the OUTERMOST query's top-level clauses. Clause names:
    select, from, where, group, having, order, limit, offset.
    Multi-word intros (GROUP BY / ORDER BY) skip the BY token.
    Set operations split the text into branches; we only report the first
    branch's clauses (the shims never rewrite across set-op branches).
    """
    depths = _depth_profile(tokens)
    marks: list[tuple[str, int]] = []  # (clause, idx after intro keyword(s))
    i = 0
    while i < len(tokens):
        t = tokens[i]
        if depths[i] == 0 and t.kind == "ident":
            w = t.lower
            if w in ("union", "intersect", "except"):
                break  # later branches are out of shim scope
            if w == "qualify":
                # QUALIFY is NOT reserved in Spark, so a column/alias named
                # qualify is legal — only mark a clause when the context
                # reads as one: the previous token ends an expression or
                # relation (bare name / literal / close-paren, not a
                # keyword, comma, dot, or operator) AND the next token can
                # start a predicate (not a clause keyword, comma, or EOF).
                prev = tokens[i - 1] if i > 0 else None
                nxt = tokens[i + 1] if i + 1 < len(tokens) else None
                # reserved words that can legally END an expression (r5
                # ADVICE: `... WHERE x IS NOT NULL QUALIFY rn = 1` reads as
                # a clause even though NULL is reserved)
                _expr_enders = {"null", "true", "false", "end", "asc", "desc"}
                prev_ok = prev is not None and (
                    (
                        prev.kind in ("ident", "dq")
                        and (prev.lower not in _RESERVED or prev.lower in _expr_enders)
                    )
                    or prev.kind in ("num", "str")
                    or prev.text == ")"
                )
                _clause_words = {
                    "where", "group", "order", "limit", "offset", "union",
                    "intersect", "except", "from", "join", "on", "as", "having",
                }
                next_ok = nxt is not None and (
                    nxt.kind in ("num", "str", "dq")
                    or nxt.text in ("(", "+", "-")
                    or (nxt.kind == "ident" and nxt.lower not in _clause_words)
                )
                if prev_ok and next_ok:
                    marks.append((w, i + 1))
            elif w in ("select", "from", "where", "having", "limit", "offset"):
                marks.append((w, i + 1))
            elif w in ("group", "order") and i + 1 < len(tokens) and tokens[i + 1].lower == "by":
                marks.append((w, i + 2))
                i += 1
        i += 1
    clauses: dict[str, tuple[int, int]] = {}
    for k, (name, start) in enumerate(marks):
        # A second SELECT at depth 0 (e.g. from a malformed input) keeps the first.
        if name in clauses:
            continue
        if k + 1 < len(marks):
            nxt = marks[k + 1]
            # nxt[1] is the idx AFTER the intro keyword(s); back up over them.
            end = nxt[1] - (2 if nxt[0] in ("group", "order") else 1)
        else:
            end = len(tokens)
        clauses[name] = (start, end)
    return clauses


def select_aliases(sql: str, tokens: list[Token] | None = None) -> dict[str, str]:
    """Select-list `expr AS alias` map: alias(lowercased) -> '(expr text)'.

    Quote/paren-aware: a FROM inside a subquery or string does not end the
    select list, and only a trailing top-level `AS ident` counts.
    Identity aliases (`v1 AS v1`) are dropped, as are aliases of a bare
    star or of another bare identifier equal to the alias.
    """
    tokens = tokenize(sql) if tokens is None else tokens
    clauses = top_level_clauses(tokens)
    if "select" not in clauses:
        return {}
    s, e = clauses["select"]
    # FROM may be absent (SELECT 1+1 AS a)
    e = min(e, clauses.get("from", (e, e))[0] - 1) if "from" in clauses else e
    items = split_top_level(tokens[s:e])
    out: dict[str, str] = {}
    for item in items:
        if len(item) >= 3 and item[-2].lower == "as" and item[-1].kind in ("ident", "dq"):
            expr_toks = item[:-2]
            if expr_toks and expr_toks[0].lower == "distinct":
                expr_toks = expr_toks[1:]
            if not expr_toks:
                continue
            alias = item[-1].text.strip('"').lower()
            expr_text = sql[expr_toks[0].start : expr_toks[-1].end].strip()
            if expr_text.lower() == alias:
                continue
            out[alias] = f"({expr_text})"
    return out


def from_tables(sql: str, tokens: list[Token] | None = None) -> list[str]:
    """Plain table names referenced at the top level of FROM/JOIN (lowercased).
    Derived tables `( select ... )` contribute nothing (their alias is a new
    scope whose columns we can't see textually — the shim then behaves
    conservatively and keeps the alias substitution)."""
    tokens = tokenize(sql) if tokens is None else tokens
    clauses = top_level_clauses(tokens)
    if "from" not in clauses:
        return []
    s, e = clauses["from"]
    names: list[str] = []
    expect_table = True
    i = s
    while i < e:
        t = tokens[i]
        if t.text == "(":
            i = match_paren(tokens, i) + 1
            expect_table = False
            continue
        if t.kind == "ident":
            w = t.lower
            if w == "join":
                expect_table = True
            elif w in ("inner", "left", "right", "full", "cross", "outer"):
                pass  # join-type prefix: keep current expectation
            elif w in ("on", "using"):
                expect_table = False
            elif expect_table and w not in _RESERVED:
                # qualified name? consume dotted parts, keep last
                name = w
                while i + 2 < e and tokens[i + 1].text == "." and tokens[i + 2].kind == "ident":
                    i += 2
                    name = tokens[i].lower
                names.append(name)
                expect_table = False
        elif t.text == ",":
            expect_table = True
        i += 1
    return names


def substitute_where_aliases(
    sql: str,
    aliases: dict[str, str],
    shadowed: set[str] = frozenset(),
    tokens: list[Token] | None = None,
) -> str:
    """Replace alias identifiers with their source expressions inside the
    WHERE clause only, per the reference binder's resolution order: a name
    in `shadowed` (i.e. a real column of an in-scope table) is left alone —
    columns win over aliases (binder/expression/mod.rs:205-224).

    Token-based: never rewrites inside string literals, never rewrites
    qualified references (`t.a`), never rewrites function names (`a(`),
    and never rewrites inside subqueries within WHERE (their scope differs).
    """
    live = {k.lower(): v for k, v in aliases.items() if k.lower() not in shadowed}
    if not live:
        return sql
    tokens = tokenize(sql) if tokens is None else tokens
    clauses = top_level_clauses(tokens)
    if "where" not in clauses:
        return sql
    s, e = clauses["where"]
    edits: list[tuple[int, int, str]] = []
    # paren stack over the WHERE range: True = this group is a subquery scope
    paren_stack: list[bool] = []
    for i in range(s, e):
        t = tokens[i]
        if t.text == "(":
            nxt = tokens[i + 1] if i + 1 < len(tokens) else None
            paren_stack.append(nxt is not None and nxt.lower == "select")
            continue
        if t.text == ")":
            if paren_stack:
                paren_stack.pop()
            continue
        if t.kind == "ident" and t.lower in live:
            prev = tokens[i - 1] if i > 0 else None
            nxt = tokens[i + 1] if i + 1 < len(tokens) else None
            qualified = prev is not None and prev.text == "."
            qualifier = nxt is not None and nxt.text == "."
            func_call = nxt is not None and nxt.text == "("
            in_subquery = any(paren_stack)
            if not (qualified or qualifier or func_call or in_subquery):
                edits.append((t.start, t.end, live[t.lower]))
    return apply_edits(sql, edits)


def _literal_kind_left(tokens: list[Token], i: int) -> tuple[str | None, int]:
    """Classify the operand ENDING at index i (exclusive of the comparison op):
    returns (kind, start_token_idx) where kind is 'str'/'num'/None. Handles a
    parenthesized single literal `('abc')` by looking inside the parens —
    but NOT a function call `chr(65)`: a preceding identifier (or another
    call/index result) makes the parens an argument list, whose value kind
    is unknown and must not trip strict mode."""
    t = tokens[i]
    if t.kind in ("str", "num"):
        return t.kind, i
    if t.text == ")" and i >= 2 and tokens[i - 2].text == "(":
        if i >= 3 and (
            (tokens[i - 3].kind in ("ident", "dq") and tokens[i - 3].lower not in _RESERVED)
            or tokens[i - 3].text in (")", "]")
        ):
            return None, i  # fn( lit ) — a call, not a bare literal
        inner = tokens[i - 1]
        if inner.kind in ("str", "num"):
            return inner.kind, i - 2
    return None, i


def _literal_kind_right(tokens: list[Token], i: int) -> tuple[str | None, int]:
    """Classify the operand STARTING at index i: returns (kind, end_token_idx).
    A unary +/- immediately before a numeric literal is part of the literal
    (`'abc' > -5` must still be a string↔numeric comparison — the reference
    binder sees the folded constant, default_comparison.rs). Parenthesized
    single literals `(-5)` / `('x')` are looked through."""
    t = tokens[i]
    if t.kind in ("str", "num"):
        return t.kind, i
    if t.text in ("+", "-") and i + 1 < len(tokens) and tokens[i + 1].kind == "num":
        return "num", i + 1
    if t.text == "(" and i + 2 < len(tokens):
        if tokens[i + 1].kind in ("str", "num") and tokens[i + 2].text == ")":
            return tokens[i + 1].kind, i + 2
        if (
            tokens[i + 1].text in ("+", "-")
            and i + 3 < len(tokens)
            and tokens[i + 2].kind == "num"
            and tokens[i + 3].text == ")"
        ):
            return "num", i + 3
    return None, i


def find_strict_literal_comparison(sql: str) -> str | None:
    """Token-level scan for `'str' <cmp> num` / `num <cmp> 'str'` anywhere.
    Returns the offending fragment, or None. A `>` INSIDE a string literal is
    not a comparison (the round-3 regex could misfire there). Signed numerics
    (`'abc' > -5`) and parenthesized single literals are classified as their
    underlying literal kind, matching the reference binder's bind-time error
    on the folded constants (default_comparison.rs:10-78)."""
    tokens = tokenize(sql)
    for i in range(1, len(tokens) - 1):
        op = tokens[i]
        if op.kind == "op" and op.text in _COMPARISON_OPS:
            # a unary sign right after the op belongs to the RIGHT operand,
            # but `1 - 5 > 'x'` must not treat `- 5` as the left operand's
            # sign — _literal_kind_left only ever sees complete tokens.
            lk, ls = _literal_kind_left(tokens, i - 1)
            rk, re_ = _literal_kind_right(tokens, i + 1)
            if lk is not None and rk is not None and {lk, rk} == {"str", "num"}:
                return sql[tokens[ls].start : tokens[re_].end]
    return None


def normalize_offset_limit(sql: str) -> str:
    """`OFFSET n LIMIT m` (reference grammar, order.slt:1-5) -> Spark's
    `LIMIT m OFFSET n`, at any paren depth (each subquery normalized)."""
    tokens = tokenize(sql)
    edits: list[tuple[int, int, str]] = []
    for i in range(len(tokens) - 3):
        if (
            tokens[i].lower == "offset"
            and tokens[i + 1].kind == "num"
            and tokens[i + 2].lower == "limit"
            and tokens[i + 3].kind == "num"
        ):
            edits.append(
                (
                    tokens[i].start,
                    tokens[i + 3].end,
                    f"limit {tokens[i + 3].text} offset {tokens[i + 1].text}",
                )
            )
    return apply_edits(sql, edits)


def check_derived_table_aliases(sql: str) -> None:
    """Reference requires FROM-subqueries to carry an alias
    (tests/slt/subquery.slt:4-7). Token-based: checks every depth."""
    tokens = tokenize(sql)
    for i, t in enumerate(tokens):
        if t.lower in ("from", "join") and i + 2 < len(tokens) and tokens[i + 1].text == "(":
            j = i + 2
            if tokens[j].lower != "select":
                continue
            close = match_paren(tokens, i + 1)
            nxt = tokens[close + 1] if close + 1 < len(tokens) else None
            if nxt is not None and nxt.lower == "as":
                nxt = tokens[close + 2] if close + 2 < len(tokens) else None
            if nxt is None or nxt.kind != "ident" or nxt.lower in _RESERVED:
                raise _derived_alias_error()


def _derived_alias_error():
    from templatedb_spark.engine import StrictTypeError

    return StrictTypeError(
        "subquery in FROM must have an alias (reference: subquery.slt:4-7)"
    )


def named_subqueries(sql: str, tokens: list[Token] | None = None) -> dict[str, str]:
    """Merged view of named_subqueries_split (kept for callers that don't
    care whether a name is a CTE or a derived table)."""
    ctes, derived = named_subqueries_split(sql, tokens)
    return {**ctes, **derived}


def cte_declared_columns(
    sql: str, tokens: list[Token] | None = None
) -> dict[str, list[str]]:
    """name -> declared column alias list for CTEs of the form
    `WITH a(c1, c2) AS (...)`. The declared list fully determines the CTE's
    output schema (r5 ADVICE: the engine must shadow WHERE aliases with the
    DECLARED names, not the body's output names — the reference binder
    resolves against the declared list). CTEs without an alias list are
    absent from the result."""
    tokens = tokenize(sql) if tokens is None else tokens
    out: dict[str, list[str]] = {}
    if not tokens or tokens[0].lower != "with":
        return out
    i = 1
    while i + 2 < len(tokens):
        name_t = tokens[i]
        if name_t.kind not in ("ident", "dq"):
            break
        j = i + 1
        declared: list[str] | None = None
        if tokens[j].text == "(":
            close_list = match_paren(tokens, j)
            declared = [
                t[0].text.strip('"')
                for t in split_top_level(tokens[j + 1 : close_list])
                if t and t[0].kind in ("ident", "dq")
            ]
            j = close_list + 1
        if j + 1 >= len(tokens) or tokens[j].lower != "as" or tokens[j + 1].text != "(":
            break
        close = match_paren(tokens, j + 1)
        if declared:
            out[name_t.text.strip('"').lower()] = declared
        if close + 1 < len(tokens) and tokens[close + 1].text == ",":
            i = close + 2
        else:
            break
    return out


def named_subqueries_split(
    sql: str, tokens: list[Token] | None = None
) -> tuple[dict[str, str], dict[str, str]]:
    """(ctes, derived): name -> body text for (a) top-level CTEs
    (`WITH name AS (body)`) and (b) aliased derived tables in the outer FROM
    (`FROM (body) [AS] t`), returned separately because their SCOPE differs:
    a derived table is in the outer FROM by construction, while a declared
    CTE only enters the outer scope if the outer FROM actually references it
    (the engine must not shadow WHERE aliases with columns of an
    unreferenced CTE — the reference binder resolves only referenced
    relations, binder/expression/mod.rs:205-224). Body text is returned
    verbatim so the caller can plan it (`spark.sql(body).columns`); a body
    that references an earlier CTE won't plan standalone and the caller must
    tolerate that."""
    tokens = tokenize(sql) if tokens is None else tokens
    out: dict[str, str] = {}
    # -- CTEs: WITH a AS ( ... ) [, b AS ( ... )] ...
    if tokens and tokens[0].lower == "with":
        i = 1
        while i + 2 < len(tokens):
            name_t = tokens[i]
            if name_t.kind not in ("ident", "dq"):
                break
            j = i + 1
            # optional (col, ...) column alias list before AS
            if tokens[j].text == "(":
                j = match_paren(tokens, j) + 1
            if j + 1 >= len(tokens) or tokens[j].lower != "as" or tokens[j + 1].text != "(":
                break
            close = match_paren(tokens, j + 1)
            body = sql[tokens[j + 2].start : tokens[close - 1].end] if close > j + 2 else ""
            out[name_t.text.strip('"').lower()] = body
            if close + 1 < len(tokens) and tokens[close + 1].text == ",":
                i = close + 2
            else:
                break
    ctes, out = out, {}
    # -- aliased derived tables in the OUTER query's FROM only: columns of
    # inner-scope subqueries are NOT in scope for the outer WHERE and must
    # not over-shadow (skipping a substitution Spark can't resolve itself
    # would turn a working reference query into an analysis error).
    clauses = top_level_clauses(tokens)
    if "from" in clauses:
        depths = _depth_profile(tokens)
        s, e = clauses["from"]
        # positions where a table expression can start: clause start, after a
        # depth-0 comma, after JOIN
        starts = [s] + [
            i + 1
            for i in range(s, e)
            if depths[i] == 0 and (tokens[i].text == "," or tokens[i].lower == "join")
        ]
        for j in starts:
            if j >= e or tokens[j].text != "(":
                continue
            if j + 1 >= len(tokens) or tokens[j + 1].lower not in ("select", "with"):
                continue
            close = match_paren(tokens, j)
            k = close + 1
            if k < len(tokens) and tokens[k].lower == "as":
                k += 1
            if (
                k < len(tokens)
                and tokens[k].kind in ("ident", "dq")
                and tokens[k].lower not in _RESERVED
            ):
                body = sql[tokens[j + 1].start : tokens[close - 1].end]
                out[tokens[k].text.strip('"').lower()] = body
    return ctes, out


def _select_output_names(sql: str, tokens: list[Token], clauses: dict) -> list[str]:
    """Output column names of the top-level select list: trailing `AS ident`
    alias, a bare (possibly qualified) column reference's last identifier, or
    an error — QUALIFY rewriting needs nameable outer projections."""
    s, e = clauses["select"]
    if "from" in clauses:
        e = min(e, clauses["from"][0] - 1)
    names: list[str] = []
    for item in split_top_level(tokens[s:e]):
        if not item:
            continue
        if len(item) >= 2 and item[-2].lower == "as" and item[-1].kind in ("ident", "dq"):
            names.append(item[-1].text)
            continue
        if item[-1].kind in ("ident", "dq") and (
            len(item) == 1 or item[-2].text == "."
        ):
            names.append(item[-1].text)
            continue
        raise ValueError(
            "QUALIFY rewrite requires every select item to be a column "
            f"reference or carry an explicit alias; got: "
            f"{sql[item[0].start : item[-1].end]!r}"
        )
    return names


def rewrite_qualify(
    sql: str, tokens: list[Token] | None = None, resolver=None
) -> str:
    """Rewrite a top-level QUALIFY clause (filter on window results — DuckDB/
    Snowflake/BigQuery syntax the reference era's users expect; Spark has no
    native QUALIFY) into the standard derived-table form:

        SELECT <sel> FROM ... QUALIFY <pred> [ORDER BY ...] [LIMIT ...]
      →
        SELECT <outnames> FROM (
          SELECT <sel>[, <winexpr_i> AS __q{i}...] FROM ...
        ) __qualify_t WHERE <pred with winexprs → __q{i}> [ORDER BY/LIMIT]

    Window-function calls appearing literally in the predicate are hoisted
    into the inner select under generated aliases; predicate references to
    select-list aliases resolve naturally through the derived table. The
    rewrite is pure text surgery on token offsets — expressions are never
    re-rendered, so quoting/spacing inside them is preserved.

    ``resolver`` (optional: sql_text -> list of column names) handles select
    lists with no textually nameable form (SELECT *, SELECT DISTINCT,
    unaliased expressions): the Engine passes a planner-backed resolver that
    plans the QUALIFY-less query and reads its output schema; without one,
    those shapes raise the documented ValueError.
    """
    tokens = tokenize(sql) if tokens is None else tokens
    clauses = top_level_clauses(tokens)
    if "qualify" not in clauses or "select" not in clauses or "from" not in clauses:
        return sql
    ps, pe = clauses["qualify"]
    # the predicate ends where ORDER/LIMIT/OFFSET begins (clause ranges
    # already account for that); the tail keeps the trailing clauses
    pred_tokens = tokens[ps:pe]
    if not pred_tokens:
        return sql
    sel_start = clauses["select"][0]
    if sel_start < len(tokens) and tokens[sel_start].lower == "distinct":
        # DISTINCT + QUALIFY ordering is engine-defined (appending helper
        # window columns to a DISTINCT projection would change the distinct
        # key); refuse loudly rather than rewrite to something subtly off
        raise ValueError("QUALIFY with SELECT DISTINCT is not supported")
    try:
        out_names = _select_output_names(sql, tokens, clauses)
    except ValueError:
        if resolver is None:
            raise
        out_names = None  # resolved from the planned inner query below
    if out_names is not None:
        # normalize textual names for the OUTER projection (r5 ADVICE): a
        # double-quoted alias re-emitted verbatim would parse as a string
        # LITERAL under this session's quoting (doubleQuotedIdentifiers off)
        # — strip the dq quotes and backtick anything non-identifier-shaped
        ident_re = re.compile(r"^[A-Za-z_][A-Za-z_0-9]*$")
        normalized: list[str] = []
        for n in out_names:
            bare = (
                n[1:-1].replace('""', '"')
                if len(n) >= 2 and n[0] == '"' and n[-1] == '"'
                else n
            )
            normalized.append(bare if ident_re.match(bare) else f"`{bare}`")
        lowered = [n.strip("`").lower() for n in normalized]
        if len(set(lowered)) != len(lowered):
            # duplicate output names make every outer reference ambiguous
            # (with or without a resolver) — refuse loudly, like DISTINCT
            raise ValueError(
                "QUALIFY rewrite: select list produces duplicate output "
                "column names; alias them uniquely"
            )
        out_names = normalized

    # hoist literal window calls:  fn ( args ) OVER ( spec ) — at ANY paren
    # depth in the predicate (e.g. `(ROW_NUMBER() OVER (...)) = 1`, CASE/NOT
    # wrappers), EXCEPT inside a nested subquery, whose window is valid where
    # it is and may be correlated (hoisting it would change semantics)
    in_subquery = []
    stack: list[bool] = []
    for j, tok in enumerate(tokens):
        if tok.text == ")" and stack:
            stack.pop()
        in_subquery.append(any(stack))
        if tok.text == "(":
            nxt = tokens[j + 1].lower if j + 1 < len(tokens) else ""
            stack.append(nxt in ("select", "with"))
    hoisted: list[tuple[int, int, str]] = []  # (tok_start, tok_end_incl, alias)
    i = ps
    while i < pe:
        t = tokens[i]
        if (
            t.lower == "over"
            and not in_subquery[i]
            and i + 1 < pe
            and tokens[i + 1].text == "("
            and i >= 1
            and tokens[i - 1].text == ")"
        ):
            over_close = match_paren(tokens, i + 1)
            arg_open = i - 1
            # walk back over the function's ( args )
            depth = 0
            j = i - 1
            while j >= ps:
                if tokens[j].text == ")":
                    depth += 1
                elif tokens[j].text == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            fn_idx = j - 1
            if fn_idx < ps or tokens[fn_idx].kind != "ident":
                i += 1
                continue
            hoisted.append((fn_idx, over_close, f"__q{len(hoisted)}"))
            i = over_close + 1
            continue
        i += 1

    # inner query: original text select..to..qualify-keyword, select list
    # augmented with hoisted window expressions
    sel_e = min(clauses["select"][1], clauses["from"][0] - 1)
    qualify_kw_start = tokens[ps - 1].start  # the QUALIFY keyword token
    extra = "".join(
        f", {sql[tokens[a].start : tokens[b].end]} AS {alias}"
        for a, b, alias in hoisted
    )
    inner = (
        sql[: tokens[sel_e - 1].end]
        + extra
        + sql[tokens[sel_e - 1].end : qualify_kw_start]
    )

    # predicate with hoisted spans replaced by their aliases
    pred_parts: list[str] = []
    cursor = tokens[ps].start
    for a, b, alias in hoisted:
        pred_parts.append(sql[cursor : tokens[a].start])
        pred_parts.append(alias)
        cursor = tokens[b].end
    pred_parts.append(sql[cursor : tokens[pe - 1].end])
    pred_text = "".join(pred_parts)

    tail = sql[tokens[pe].start :] if pe < len(tokens) else ""
    if out_names is None:
        # plan the ORIGINAL query minus QUALIFY/ORDER/LIMIT (no helper
        # columns) to learn the output names; auto-generated names like
        # `(a + 1)` need backtick quoting in the outer projection
        original_inner = sql[: qualify_kw_start]
        ident_re = re.compile(r"^[A-Za-z_][A-Za-z_0-9]*$")
        out_names = [
            n if ident_re.match(n) else f"`{n}`"
            for n in resolver(original_inner.strip())
        ]
    out = ", ".join(out_names)
    return (
        f"SELECT {out} FROM ({inner.strip()}) __qualify_t "
        f"WHERE {pred_text.strip()}" + (f" {tail}" if tail else "")
    )


def find_calls(sql: str, func_name: str) -> list[tuple[int, int, list[list[Token]]]]:
    """All calls `func_name( args )`: (start, end, top-level-split arg tokens).
    Literals and comments are tokens of their own, so a name inside them is
    never a call, and neither is a qualified `x.func_name(`."""
    tokens = tokenize(sql)
    out = []
    for i, t in enumerate(tokens):
        if (
            t.kind == "ident"
            and t.lower == func_name
            and i + 1 < len(tokens)
            and tokens[i + 1].text == "("
            and (i == 0 or tokens[i - 1].text != ".")
        ):
            close = match_paren(tokens, i + 1)
            args = split_top_level(tokens[i + 2 : close])
            if args == [[]]:
                args = []
            out.append((t.start, tokens[close].end, args))
    return out


def find_quoted_csv_sources(sql: str) -> list[tuple[int, int, str, str | None]]:
    """`FROM 'file.csv' [AS] alias` occurrences:
    (start, end, path, alias_or_None). `start` covers from the FROM/JOIN
    keyword through the alias so the caller can splice a replacement."""
    tokens = tokenize(sql)
    out = []
    for i, t in enumerate(tokens):
        if t.lower in ("from", "join") and i + 1 < len(tokens):
            lit = tokens[i + 1]
            if lit.kind != "str":
                continue
            path = lit.text[1:-1].replace("''", "'")
            if not path.lower().endswith(".csv"):
                continue
            end = lit.end
            alias = None
            j = i + 2
            if j < len(tokens) and tokens[j].lower == "as":
                j += 1
            if j < len(tokens) and tokens[j].kind == "ident" and tokens[j].lower not in _RESERVED:
                alias = tokens[j].text
                end = tokens[j].end
            out.append((t.start, end, path, alias))
    return out
