"""Round-4 mini-parser (templatedb_spark/sqlparse.py) tests.

These are the verdict-mandated adversarial cases the round-1..3 regex shims
mis-rewrote silently: an alias shadowing a real column, a string literal
containing a comparison operator, and a scalar subquery in the select list.
Reference semantics under test: binder/expression/mod.rs:177-231 (columns
resolve before select-aliases; lowercased identifier lookup), filter.slt:30-45
(WHERE alias), comparison_function.slt:1-8 (strict literal comparisons).
"""

from __future__ import annotations

import pytest

from templatedb_spark import sqlparse as sp
from templatedb_spark.engine import Engine, StrictTypeError

# ---------------------------------------------------------------- offline ----


def test_alias_extraction_ignores_from_in_subquery_and_strings():
    sql = (
        "select (select max(v1) from t2) as m, 'from x' as lit, v1+1 as a "
        "from t1 where a >= 2"
    )
    al = sp.select_aliases(sql)
    assert al["a"] == "(v1+1)"
    assert al["m"] == "((select max(v1) from t2))"
    assert al["lit"] == "('from x')"
    assert sp.from_tables(sql) == ["t1"]


def test_where_substitution_skips_string_literals():
    sql = "select v1+1 as a from t1 where note = 'a > 10' and a > 2"
    out = sp.substitute_where_aliases(sql, sp.select_aliases(sql))
    assert "'a > 10'" in out
    assert "(v1+1) > 2" in out


def test_where_substitution_skips_qualified_and_calls():
    sql = "select v1+1 as a from t1 where t1.a > 1 and a(v1) > 0 and a > 2"
    out = sp.substitute_where_aliases(sql, sp.select_aliases(sql))
    assert "t1.a > 1" in out
    assert "a(v1) > 0" in out
    assert "(v1+1) > 2" in out


def test_where_substitution_skips_subquery_scope():
    sql = "select v1+1 as a from t1 where exists (select a from t2) and a > 2"
    out = sp.substitute_where_aliases(sql, sp.select_aliases(sql))
    assert "(select a from t2)" in out
    assert "(v1+1) > 2" in out


def test_shadowed_alias_not_substituted():
    # reference binder: a real column named `a` wins over the select alias
    sql = "select v1+1 as a from t1 where a = 3"
    out = sp.substitute_where_aliases(sql, sp.select_aliases(sql), shadowed={"a"})
    assert out == sql


def test_strict_comparison_token_level():
    assert sp.find_strict_literal_comparison("select 'abc' > 10") is not None
    assert sp.find_strict_literal_comparison("select 20.0 = 'abc'") is not None
    assert sp.find_strict_literal_comparison("select 100 > 20") is None
    # operator INSIDE a string literal is not a comparison (regex-era false positive)
    assert sp.find_strict_literal_comparison("select * from t where s = 'x>1'") is None
    assert (
        sp.find_strict_literal_comparison("select * from t where s = 'a' and v1 > 10")
        is None
    )


def test_offset_limit_normalized_in_subquery_too():
    out = sp.normalize_offset_limit(
        "select * from (select v1 from t order by v1 offset 1 limit 2) s offset 0 limit 1"
    )
    assert out.count("limit") == 2
    assert "limit 2 offset 1" in out
    assert "limit 1 offset 0" in out


def test_derived_alias_required():
    with pytest.raises(StrictTypeError):
        sp.check_derived_table_aliases("select * from (select v1 from t1)")
    sp.check_derived_table_aliases("select * from (select v1 from t1) s")
    sp.check_derived_table_aliases("select * from (select v1 from t1) as s where s.v1 > 0")


def test_find_calls_nested_parens():
    calls = sp.find_calls("select * from read_csv('a.csv', header=>false)", "read_csv")
    assert len(calls) == 1
    _, _, args = calls[0]
    assert args[0][0].text == "'a.csv'"
    # nested parens inside args don't truncate the span (regex-era bug)
    calls = sp.find_calls("select f(g(1, 2), 3) from t", "f")
    assert len(calls) == 1
    assert len(calls[0][2]) == 2
    # a qualified name is not the table function
    assert sp.find_calls("select * from s.read_csv('a.csv')", "read_csv") == []


@pytest.mark.parametrize(
    "sql, want",
    [
        ("select add(1, 2)", "select (1 + 2)"),
        ("select add(add(1,2),3)", "select ((1 + 2) + 3)"),
        ("select multiply(subtract(5, 2), 3)", "select ((5 - 2) * 3)"),
        ("select add(add(1, 2), 3, 4)", "select add((1 + 2), 3, 4)"),
        # literals, comments and qualified names are not calls
        ("SELECT 'add(1, 2)' AS s", "SELECT 'add(1, 2)' AS s"),
        ("select a -- add(a, b)\nfrom t", "select a -- add(a, b)\nfrom t"),
        ("select a /* divide(a, b) */ from t", "select a /* divide(a, b) */ from t"),
        ("select t.add(1,2) from t", "select t.add(1,2) from t"),
        # unbalanced: left to Spark's parser
        ("select add(1, 2", "select add(1, 2"),
    ],
)
def test_named_arithmetic_rewrite_is_token_level(sql, want):
    from templatedb_spark.functions.registry import rewrite_named_arithmetic

    assert rewrite_named_arithmetic(sql) == want


def test_tokenizer_handles_escaped_quotes():
    toks = sp.tokenize("select 'it''s' as s from t")
    strs = [t for t in toks if t.kind == "str"]
    assert strs[0].text == "'it''s'"


# ----------------------------------------------------------------- spark -----


@pytest.fixture
def t_shadow(spark):
    spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "v1 int, a int").createOrReplaceTempView(
        "shadow_t"
    )
    yield
    spark.catalog.dropTempView("shadow_t")


def test_engine_alias_shadowed_by_column(spark, t_shadow):
    # `a` is BOTH a real column and a select alias; the reference binder
    # resolves the column — WHERE a >= 20 filters on the column values 10/20/30,
    # not on v1+1.
    eng = Engine(spark)
    rows = eng.sql(
        "select v1+1 as a from shadow_t where a >= 20 order by a"
    ).collect()
    assert [r.a for r in rows] == [3, 4]


def test_engine_alias_substitution_still_works(spark, t_shadow):
    # `b` is only an alias -> substituted per filter.slt:30-45
    eng = Engine(spark)
    rows = eng.sql("select v1+1 as b from shadow_t where b >= 3 order by b").collect()
    assert [r.b for r in rows] == [3, 4]


def test_engine_strict_rejects_literal_comparison_not_string_content(spark):
    eng = Engine(spark, strict=True)
    with pytest.raises(StrictTypeError):
        eng.sql("select 'abc' > 10")
    # a '>' inside a string literal is fine
    assert eng.sql("select 'a > 10' as s").collect()[0].s == "a > 10"


def test_engine_select_list_subquery_alias_in_where(spark, t_shadow):
    eng = Engine(spark)
    rows = eng.sql(
        "select v1, (select max(v1) from shadow_t) as mx from shadow_t where mx = 3 order by v1"
    ).collect()
    assert [r.v1 for r in rows] == [1, 2, 3]
    assert all(r.mx == 3 for r in rows)


# ------------------------------------------------------------- properties ----


def test_tokenizer_offsets_reconstruct_source():
    """Token offsets are exact slices of the source: applying zero edits is
    identity, and every token's text equals its source slice."""
    cases = [
        "select a, 'it''s a ''test''' as s, f(g(1,2)) from t where x > 'a>b'",
        "SELECT * FROM (SELECT v1 FROM t1) s JOIN t2 ON s.v1 = t2.v1 -- comment\nWHERE t2.a <> 1.5e3",
        "select \"quoted col\", x::int from t offset 1 limit 2",
    ]
    from templatedb_spark import sqlparse as sp

    for sql in cases:
        toks = sp.tokenize(sql)
        for t in toks:
            assert sql[t.start : t.end] == t.text
        assert sp.apply_edits(sql, []) == sql


def test_random_edit_roundtrip_hypothesis():
    """Property: for generated WHERE-alias queries, substitution never touches
    string literals and always produces SQL that re-tokenizes cleanly."""
    import random

    from templatedb_spark import sqlparse as sp

    rng = random.Random(42)
    names = ["a", "b2", "colx"]
    for _ in range(200):
        alias = rng.choice(names)
        lit = f"'{alias} > {rng.randint(0, 9)}'"
        sql = (
            f"select v1+{rng.randint(1, 9)} as {alias} from t1 "
            f"where s = {lit} and {alias} >= {rng.randint(0, 5)}"
        )
        out = sp.substitute_where_aliases(sql, sp.select_aliases(sql))
        assert lit in out  # literal untouched
        assert f"(v1+" in out  # alias substituted
        sp.tokenize(out)  # still lexes


# ----------------------------------------------------- round-4 review fixes --


def test_tokenizer_total_on_foreign_syntax():
    """Engine.sql must never be stricter than spark.sql: backtick paths,
    bitwise ops, block comments, and arbitrary symbols lex as opaque tokens
    instead of raising (review finding: tokenize() used to hard-fail)."""
    cases = [
        "SELECT * FROM parquet.`/tmp/x.parquet`",
        "select 1 | 2, 3 & 1, ~4, a ^ b from t",
        "select /* block 'quote' */ v1 from t",
        "select a#b, $var from t",
    ]
    for sql in cases:
        toks = sp.tokenize(sql)  # no raise
        assert all(sql[t.start : t.end] == t.text for t in toks)


def test_engine_passes_backtick_path_through(spark):
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT count(*) AS n FROM parquet.`/root/testdata/sf0.001/region.parquet`"
    ).collect()
    assert rows[0].n == 5


def test_read_csv_named_path_arg(spark, tmp_path):
    p = tmp_path / "named.csv"
    p.write_text("a,b\n1,2\n3,4\n")
    eng = Engine(spark)
    rows = eng.sql(f"select * from read_csv(path => '{p}') order by a").collect()
    assert [(r.a, r.b) for r in rows] == [("1", "2"), ("3", "4")] or [
        (int(r.a), int(r.b)) for r in rows
    ] == [(1, 2), (3, 4)]


def test_tvf_queries_leave_no_temp_views(spark):
    """read_csv(...), FROM 'f.csv' and template_query_*() register a helper
    view per query; each is dropped once the query is planned, and the
    returned DataFrames still collect and union. A temp view defined over a
    TVF keeps its helper view, so it stays readable."""
    from tests.conftest import FIXTURES

    eng = Engine(spark, base_dir=FIXTURES)

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    kept = []
    for _ in range(3):
        kept.append(eng.sql("select * from read_csv('t2.csv')"))
        kept.append(eng.sql("select * from 't2.csv'"))
        kept.append(eng.sql("select table_name from template_query_tables()"))
    assert views() == before
    n = kept[0].count()
    assert n > 0 and kept[0].union(kept[1]).count() == 2 * n
    assert kept[2].count() == kept[5].count()

    eng.sql("create or replace temp view tvf_backed as select * from read_csv('t2.csv')")
    try:
        assert spark.table("tvf_backed").count() == n
    finally:
        spark.catalog.dropTempView("tvf_backed")


def test_tvf_backed_view_helpers_go_with_the_view(spark):
    """A temp view defined over a TVF keeps its helper views only while it
    exists: replacing it drops the old helpers, dropping it drops the
    current ones, so create/replace/drop cycles leave the temp-view set
    where it started while the view stays readable at every step."""
    from tests.conftest import FIXTURES

    eng = Engine(spark, base_dir=FIXTURES)

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    n = eng.sql("select * from read_csv('t2.csv')").count()
    for _ in range(3):
        eng.sql("create temp view tvf_cycle as select * from read_csv('t2.csv')")
        assert spark.table("tvf_cycle").count() == n
        grown = views()
        eng.sql("create or replace temp view tvf_cycle as select * from 't2.csv' where true")
        assert spark.table("tvf_cycle").count() == n
        assert len(views()) == len(grown)  # the old helper went, the new one came
        eng.sql("select count(*) from tvf_cycle").collect()  # a plain query keeps them
        assert spark.table("tvf_cycle").count() == n
        eng.sql("drop view tvf_cycle")
        assert views() == before


# -------------------------------------------------------- r5 ADVICE fixes ----


def test_tokenizer_handles_backslash_escaped_quote():
    """Spark's default lexer (escapedStringLiterals=false) honors backslash
    escapes, so `'it\\'s'` is ONE literal — the r4 token pattern closed it at
    the escaped quote, letting strict mode / alias substitution read (or
    splice into) string content (r5 ADVICE, medium)."""
    toks = sp.tokenize(r"select 'it\'s' as s from t where x > 5")
    strs = [t for t in toks if t.kind == "str"]
    assert strs[0].text == r"'it\'s'"
    # double-backslash then quote ends the literal: '\\' is a complete literal
    toks2 = sp.tokenize(r"select '\\' as s")
    assert [t.text for t in toks2 if t.kind == "str"] == [r"'\\'"]


def test_strict_not_fooled_by_backslash_escape(spark):
    eng = Engine(spark, strict=True)
    # the `> 5` lives INSIDE the literal once escapes are honored; before the
    # fix the literal closed early and strict mode saw 'str' > num
    df = eng.sql(r"select 'it\'s > 5' as s")
    assert df.collect()[0].s == "it's > 5"


def test_alias_substitution_never_edits_escaped_string_content(spark, t_shadow):
    eng = Engine(spark)
    rows = eng.sql(
        r"select v1+1 as b, 'b\'s value: b' as lit from shadow_t where b >= 3 order by b"
    ).collect()
    assert [r.b for r in rows] == [3, 4]
    assert all(r.lit == "b's value: b" for r in rows)


def test_strict_catches_signed_and_parenthesized_literals():
    # r5 ADVICE (low): unary sign / single parens around a literal operand
    assert sp.find_strict_literal_comparison("select 'abc' > -5") == "'abc' > -5"
    assert sp.find_strict_literal_comparison("select 'abc' >= +1.5") == "'abc' >= +1.5"
    assert sp.find_strict_literal_comparison("select ('abc') > 5") == "('abc') > 5"
    assert sp.find_strict_literal_comparison("select 'abc' > (-5)") == "'abc' > (-5)"
    # still no false positives: sign inside arithmetic, strings vs strings,
    # comparison text inside a literal
    assert sp.find_strict_literal_comparison("select 1 - 5 > x") is None
    assert sp.find_strict_literal_comparison("select 'a' > 'b'") is None
    assert sp.find_strict_literal_comparison("select '> -5' as s") is None


def test_cte_columns_shadow_select_aliases(spark):
    """r5 ADVICE (low): a CTE's output columns are in scope for the outer
    WHERE, so an alias colliding with one must NOT be substituted (columns
    shadow aliases, binder/expression/mod.rs:205-224)."""
    eng = Engine(spark)
    rows = eng.sql(
        "with src as (select 1 as v1, 10 as a union all select 2, 20 union all select 3, 30) "
        "select v1+1 as a from src where a >= 20 order by a"
    ).collect()
    assert [r.a for r in rows] == [3, 4]


def test_derived_table_columns_shadow_select_aliases(spark):
    eng = Engine(spark)
    rows = eng.sql(
        "select v1+1 as a from (select 1 as v1, 10 as a union all select 2, 20 "
        "union all select 3, 30) t where a >= 20 order by a"
    ).collect()
    assert [r.a for r in rows] == [3, 4]


def test_cte_alias_substitution_still_works_when_no_collision(spark):
    eng = Engine(spark)
    rows = eng.sql(
        "with src as (select 1 as v1 union all select 2 union all select 3) "
        "select v1+1 as b from src where b >= 3 order by b"
    ).collect()
    assert [r.b for r in rows] == [3, 4]


def test_named_subqueries_extraction():
    got = sp.named_subqueries(
        "with a as (select 1 as x), b as (select 2 as y) "
        "select * from a join (select 3 as z) as d on a.x = d.z"
    )
    assert got["a"] == "select 1 as x"
    assert got["b"] == "select 2 as y"
    assert got["d"] == "select 3 as z"
    # inner-scope subqueries (not in the outer FROM) are excluded
    got2 = sp.named_subqueries(
        "select v1+1 as a from t1 where exists (select 1 as a from t2) and a > 2"
    )
    assert got2 == {}


def test_rewrite_qualify_hoists_window_call():
    got = sp.rewrite_qualify(
        "SELECT a, b FROM t QUALIFY ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) <= 2 ORDER BY a"
    )
    assert got == (
        "SELECT a, b FROM (SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b) "
        "AS __q0 FROM t) __qualify_t WHERE __q0 <= 2 ORDER BY a"
    )


def test_rewrite_qualify_alias_predicate_and_passthrough():
    got = sp.rewrite_qualify(
        "SELECT a, RANK() OVER (ORDER BY b) AS r FROM t QUALIFY r <= 3"
    )
    assert got == (
        "SELECT a, r FROM (SELECT a, RANK() OVER (ORDER BY b) AS r FROM t) "
        "__qualify_t WHERE r <= 3"
    )
    # no QUALIFY → byte-identical passthrough
    q = "SELECT a FROM t WHERE 'qualify' = s"
    assert sp.rewrite_qualify(q) == q


def test_rewrite_qualify_requires_nameable_select_items():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sp.rewrite_qualify("SELECT a + 1 FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1")


def test_engine_qualify_end_to_end(spark):
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT v1 FROM (SELECT 1 AS v1 UNION ALL SELECT 2 UNION ALL SELECT 3) t "
        "QUALIFY ROW_NUMBER() OVER (ORDER BY v1 DESC) <= 2 ORDER BY v1"
    ).collect()
    assert [r.v1 for r in rows] == [2, 3]


def test_chained_cte_columns_shadow_via_textual_fallback(spark):
    """A CTE whose body references an EARLIER CTE won't plan standalone —
    the engine falls back to the body's textual select aliases for the
    shadow set, so the collision with the outer alias still suppresses
    substitution (columns shadow aliases)."""
    eng = Engine(spark)
    rows = eng.sql(
        "with base as (select 1 as v1, 10 as raw union all select 2, 20 "
        "union all select 3, 30), "
        "src as (select v1, raw as a from base) "
        "select v1+1 as a from src where a >= 20 order by a"
    ).collect()
    assert [r.a for r in rows] == [3, 4]


def test_engine_qualify_with_group_by(spark, duck):
    """QUALIFY over an aggregated query: the hoisted window (containing an
    aggregate) lands in the inner select list where it is valid alongside
    GROUP BY — differentially checked against DuckDB's native QUALIFY."""
    from tests.conftest import SF_SMALL, normalize_pdf
    from templatedb_spark.suite import table

    table(spark, SF_SMALL, "customer").createOrReplaceTempView("customer")
    q = (
        "SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM customer "
        "GROUP BY c_nationkey "
        "QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_nationkey ASC) <= 5 "
        "ORDER BY n DESC, c_nationkey"
    )
    eng = Engine(spark)
    got = normalize_pdf(eng.sql(q).toPandas())
    want = normalize_pdf(duck.sql(q).df())
    assert got == want
    spark.catalog.dropTempView("customer")


# ------------------------------------------------- r5 self-review fixes ----


def test_unreferenced_cte_does_not_shadow(spark):
    """A declared-but-unreferenced CTE's columns are NOT in the outer scope:
    the alias must still substitute (self-review finding: the shadow set
    previously swept in every CTE, turning this working query into an
    unresolved-column error)."""
    eng = Engine(spark)
    rows = eng.sql(
        "with a as (select 1 as x union all select 2), b as (select 9 as y) "
        "select x+1 as y from a where y > 2 order by y"
    ).collect()
    assert [r.y for r in rows] == [3]


def test_strict_ignores_single_literal_function_args(spark):
    # chr(65) = 'A'; comparing it to a string is legal — the parenthesized
    # literal lookthrough must not treat an argument list as a bare literal
    assert sp.find_strict_literal_comparison("select * from t where chr(65) > 'x'") is None
    # bare parens still flagged; WHERE ('abc') > 5 too (keyword before paren)
    assert sp.find_strict_literal_comparison("select ('abc') > 5") is not None
    assert sp.find_strict_literal_comparison("select * from t where ('abc') > 5") is not None
    eng = Engine(spark, strict=True)
    assert eng.sql("select char(65) as c").collect()[0].c == "A"


def test_qualify_as_identifier_passes_through(spark):
    """qualify is not reserved in Spark: a column/alias named qualify must
    not trigger the clause rewrite."""
    q = "SELECT a, qualify AS q FROM t"
    assert sp.rewrite_qualify(q) == q
    q2 = "SELECT a FROM t WHERE qualify > 5"
    assert sp.rewrite_qualify(q2) == q2
    eng = Engine(spark)
    rows = eng.sql("select 1 as a, 2 as qualify").collect()
    assert (rows[0].a, rows[0].qualify) == (1, 2)


def test_qualify_hoists_nested_window(spark):
    """Windows wrapped in parens/NOT inside the predicate hoist too; windows
    inside a nested subquery stay put (they may be correlated)."""
    got = sp.rewrite_qualify(
        "SELECT a FROM t QUALIFY (ROW_NUMBER() OVER (ORDER BY a)) = 1"
    )
    assert "__q0 FROM t" in got and "WHERE (__q0) = 1" in got
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT v1 FROM (SELECT 1 AS v1 UNION ALL SELECT 2) t "
        "QUALIFY NOT (ROW_NUMBER() OVER (ORDER BY v1) > 1)"
    ).collect()
    assert [r.v1 for r in rows] == [1]


def test_chained_cte_columns_shadow_via_planned_prefix(spark):
    """A CTE referencing an earlier CTE now plans with the preceding
    declarations re-attached, so even columns NOT named in its select-alias
    text (e.g. a star-expanded column) enter the shadow set."""
    eng = Engine(spark)
    rows = eng.sql(
        "with base as (select 1 as v1, 10 as a union all select 2, 20 "
        "union all select 3, 30), "
        "src as (select * from base) "
        "select v1+1 as a from src where a >= 20 order by a"
    ).collect()
    # src's star-expansion contains column a → alias must NOT substitute
    assert [r.a for r in rows] == [3, 4]


def test_qualify_select_star_via_planner_resolver(spark):
    """SELECT * ... QUALIFY works through Engine.sql: the planner-backed
    resolver supplies the output names the text rewrite cannot derive."""
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT * FROM (SELECT 1 AS v1, 'x' AS s UNION ALL SELECT 2, 'y') t "
        "QUALIFY ROW_NUMBER() OVER (ORDER BY v1 DESC) <= 1"
    ).collect()
    assert [(r.v1, r.s) for r in rows] == [(2, "y")]


def test_qualify_unaliased_expression_via_planner_resolver(spark, duck):
    from tests.conftest import SF_SMALL, normalize_pdf
    from templatedb_spark.suite import table

    table(spark, SF_SMALL, "customer").createOrReplaceTempView("customer")
    q = (
        "SELECT c_custkey, c_acctbal FROM customer "
        "QUALIFY RANK() OVER (ORDER BY c_acctbal DESC, c_custkey) <= 4 "
        "ORDER BY c_custkey"
    )
    eng = Engine(spark)
    assert normalize_pdf(eng.sql(q).toPandas()) == normalize_pdf(duck.sql(q).df())
    spark.catalog.dropTempView("customer")


def test_qualify_distinct_refused():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sp.rewrite_qualify(
            "SELECT DISTINCT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
        )


# -------------------------------------------------- tokenizer properties ----

from hypothesis import given, settings, strategies as st


_sqlish = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ019 \t\n'\"`()[]{},.;:?<>=!+-*/%\\|&~@$#^_")
    ),
    max_size=80,
)


@settings(max_examples=300, deadline=None)
@given(_sqlish)
def test_tokenizer_is_total_and_offset_faithful(s):
    """Engine.sql must never be stricter than spark.sql: tokenize() has to
    accept ANY input without raising, and every token's (start, end) must
    slice the original text exactly (offset fidelity is what makes the
    shims' text edits safe)."""
    toks = sp.tokenize(s)
    pos = 0
    for t in toks:
        assert s[t.start : t.end] == t.text
        assert t.start >= pos  # non-overlapping, in order
        pos = t.end
    # and the clause analyses are total too (never raise on garbage)
    try:
        sp.top_level_clauses(toks)
        sp.find_strict_literal_comparison(s)
    except sp.SqlSyntaxError:
        pass  # unbalanced parens may raise the shim's own typed error


# ------------------------------------------------ round-6 ADVICE regressions


def test_qualify_after_reserved_expression_ender(spark):
    """r5 ADVICE: QUALIFY following a reserved word that legally ends an
    expression (IS NOT NULL) must still be detected as a clause."""
    eng = Engine(spark)
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "g int, v int"
    ).createOrReplaceTempView("t_qnull")
    rows = eng.sql(
        "SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) AS rn "
        "FROM t_qnull WHERE v IS NOT NULL QUALIFY rn = 1"
    ).collect()
    assert sorted((r.g, r.v) for r in rows) == [(1, 20), (2, 5)]


def test_qualify_duplicate_output_names_refused():
    """r5 ADVICE: duplicate select-list output names make every outer
    reference ambiguous — refuse loudly (like DISTINCT), never rewrite to
    an ambiguous projection."""
    with pytest.raises(ValueError, match="duplicate output"):
        sp.rewrite_qualify(
            "SELECT g, g FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY v) = 1"
        )


def test_qualify_dq_alias_normalized_to_backticks():
    """r5 ADVICE: a double-quoted alias must not be re-emitted with double
    quotes in the outer projection (Spark parses "x" as a string LITERAL
    there — a silently constant column)."""
    out = sp.rewrite_qualify(
        'SELECT g, v AS "my val" FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY v) = 1'
    )
    assert out.startswith("SELECT g, `my val` FROM (")
    assert '"my val"' not in out.split("FROM", 1)[0]


def test_cte_declared_columns_parsed():
    got = sp.cte_declared_columns(
        'WITH a(c1, c2) AS (SELECT x, y FROM t), b AS (SELECT 1), '
        'c("Q", r) AS (SELECT 2, 3) SELECT * FROM a'
    )
    assert got == {"a": ["c1", "c2"], "c": ["Q", "r"]}


def test_cte_declared_columns_shadow_where_alias(spark):
    """r5 ADVICE: `WITH a(c1,c2) AS (...)` — the DECLARED names are the CTE's
    schema; a WHERE alias equal to a declared column must be shadowed (not
    substituted), and the body's own output names must NOT shadow."""
    eng = Engine(spark)
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "g int, v int"
    ).createOrReplaceTempView("t_qcte")
    rows = eng.sql(
        "WITH a(c1, c2) AS (SELECT g, v FROM t_qcte) "
        "SELECT c1 AS v2, c2 FROM a WHERE c2 > 6 ORDER BY c2"
    ).collect()
    assert [(r.v2, r.c2) for r in rows] == [(1, 10), (1, 20)]


def test_derived_table_body_starting_with_with(spark):
    """r5 ADVICE: FROM (WITH ... SELECT ...) t used to get the outer CTE
    prefix prepended ('WITH a AS (...) WITH ...' — invalid), silently
    degrading the shadow set. The prefix now splices into the body's WITH
    list, so the derived table's real columns shadow correctly."""
    eng = Engine(spark)
    spark.createDataFrame([(7,)], "b int").createOrReplaceTempView("t_qw")
    rows = eng.sql(
        "WITH z AS (SELECT 1 AS one) "
        "SELECT t.b + 1 AS b2 FROM (WITH y AS (SELECT b FROM t_qw) SELECT b FROM y) t "
        "WHERE t.b = 7"
    ).collect()
    assert [r.b2 for r in rows] == [8]


def test_partial_cte_alias_list_keeps_body_columns_in_shadow_set(spark):
    """r6 ADVICE: DuckDB/Postgres permit a PARTIAL CTE alias list — `WITH
    a(c1) AS (SELECT g, v ...)` renames only g; v keeps its body name. The
    binder's shadow set must contain BOTH c1 and v, or a same-named outer
    select alias would be wrongly substituted into WHERE. (Spark itself
    rejects partial lists — ASSIGNMENT_ARITY_MISMATCH — so this is pinned at
    the shadow-computation level, the layer the fuzz oracle exercises.)"""
    from templatedb_spark import sqlparse as _sp

    eng = Engine(spark)
    spark.createDataFrame([(1, 10)], "g int, v int").createOrReplaceTempView("t_pcte")
    q = "WITH a(c1) AS (SELECT g, v FROM t_pcte) SELECT c1 FROM a"
    cols = eng._in_scope_columns(q, _sp.tokenize(q))
    assert "c1" in cols  # the declared alias
    assert "v" in cols  # the unlisted body column keeps its name
    assert "g" not in cols  # renamed away by the declared alias
