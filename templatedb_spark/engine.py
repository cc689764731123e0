"""Engine: the `sql()` entry point plus reference-semantics shims.

The reference's query lifecycle (SURVEY.md §3) — parse → bind → plan → HepOptimizer →
executors — collapses into `spark.sql()`: Catalyst performs every rewrite the
reference implements (predicate/limit pushdown, column pruning, project collapsing,
cast simplification; SURVEY.md §4.1 maps each rule to its built-in Catalyst
equivalent). What remains for us is the *semantic* surface the reference exposes
that Spark does not match 1:1:

1. **WHERE-clause alias substitution** (reference: planner/binder/expression_binder/
   column_alias_binder.rs; tests/slt/filter.slt:30-45): `SELECT v1+1 AS a ... WHERE a >= 2`
   must resolve `a` to `v1+1`. Spark resolves lateral aliases in SELECT but not WHERE;
   we substitute the alias expression before planning — token-based since round 4
   (sqlparse.py), honoring the binder's resolution order: a real column of an
   in-scope table SHADOWS a select alias (binder/expression/mod.rs:205-224).
2. **Strict comparison typing** (reference: function/comparison/default_comparison.rs:10-78;
   comparison_function.slt:1-8): `'abc' > 10` is a bind error in the reference while
   Spark would coerce; `strict=True` rejects literal string↔numeric comparisons.
3. **slt result formatting**: NULL prints `NULL`, empty string prints `(empty)`
   (reference: tests/slt/select.slt:1-7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from templatedb_spark.catalog import register_csv_dir, register_parquet_dir


class StrictTypeError(ValueError):
    """Raised in strict mode for comparisons the reference's binder rejects."""


def _view_statement(query: str) -> tuple[str, str] | None:
    """(verb, view name) of a `CREATE ... VIEW` or `DROP VIEW` statement on
    an unqualified name, else None. The name is lowercased, as Spark
    resolves it."""
    from templatedb_spark import sqlparse

    toks = sqlparse.tokenize(query)[:12]
    words = [t.lower for t in toks]
    j = 1
    while j < len(words) and words[j] in ("or", "replace", "global", "temp", "temporary"):
        j += 1
    if words[:1] not in (["create"], ["drop"]) or words[j : j + 1] != ["view"]:
        return None
    j += 1
    while j < len(words) and words[j] in ("if", "not", "exists"):
        j += 1
    if j >= len(toks) or (j + 1 < len(toks) and toks[j + 1].text == "."):
        return None  # a qualified name: a global temp or persistent view
    return words[0], toks[j].text.strip('`"').lower()


class Engine:
    """Session + catalog + sql() entry. The reference's `Database::run(sql)`
    (src/query_engine/src/db.rs:125-168) equivalent, where stages 2-6 are Catalyst.

    ``base_dir`` anchors relative file paths in ``FROM 'file.csv'`` / ``read_csv``
    (the reference resolves them against its process cwd — sql_logic.rs:6-9 chdirs
    to the repo root). ``catalog`` (a :class:`templatedb_spark.ddl.Catalog`) backs
    the introspection TVFs when present, so declared logical types are reported.
    """

    def __init__(self, spark: SparkSession, strict: bool = False, base_dir: str = ".", catalog=None):
        self.spark = spark
        self.strict = strict
        self.base_dir = base_dir
        self.catalog = catalog
        self._view_n = 0
        self._query_views: list[str] = []  # this query's TVF views, dropped once it is planned
        self._view_helpers: dict[str, list[str]] = {}  # TVF views kept by the view defined over them

    # -- catalog -----------------------------------------------------------
    def register_parquet_dir(self, sf_dir: str):
        return register_parquet_dir(self.spark, sf_dir)

    def register_csv_dir(self, csv_dir: str):
        return register_csv_dir(self.spark, csv_dir)

    # -- table-source rewrites ----------------------------------------------
    def _fresh_view(self, df: DataFrame, prefix: str) -> str:
        self._view_n += 1
        name = f"__{prefix}_{self._view_n}"
        df.createOrReplaceTempView(name)
        self._query_views.append(name)
        return name

    def _resolve(self, path: str) -> str:
        import os

        return path if os.path.isabs(path) else os.path.join(self.base_dir, path)

    def _rewrite_read_csv(self, query: str) -> str:
        """`FROM read_csv('f.csv'[, header=>b, delim=>'c'])` → registered view.

        The reference binds read_csv as a TVF (function/table/read_csv.rs:18-210);
        with header=>false it names columns column_1.. (table_function.slt:23-29).
        """
        from templatedb_spark import sqlparse
        from templatedb_spark.sources.csv import read_csv

        edits = []
        for start, end, args in sqlparse.find_calls(query, "read_csv"):
            path = header = delim = None
            for arg in args:
                if len(arg) == 1 and arg[0].kind == "str" and path is None:
                    path = arg[0].text[1:-1].replace("''", "'")
                elif len(arg) >= 3 and arg[1].text == "=>":
                    key = arg[0].lower
                    if key == "header":
                        header = arg[2].lower != "false"
                    elif key == "delim" and arg[2].kind == "str":
                        delim = arg[2].text[1:-1].replace("''", "'")
                    elif key == "path" and arg[2].kind == "str":
                        path = arg[2].text[1:-1].replace("''", "'")
            if path is None:
                # regex-era fallback: first string literal anywhere in the args
                for arg in args:
                    for tok in arg:
                        if tok.kind == "str":
                            path = tok.text[1:-1].replace("''", "'")
                            break
                    if path is not None:
                        break
            if path is None:
                continue
            header = True if header is None else header
            df = read_csv(self.spark, self._resolve(path), header=header, delim=delim or ",")
            if not header:
                df = df.toDF(*[f"column_{i + 1}" for i in range(len(df.columns))])
            edits.append((start, end, self._fresh_view(df, "read_csv")))
        return sqlparse.apply_edits(query, edits)

    def _rewrite_quoted_csv(self, query: str) -> str:
        """Implicit `FROM 'file.csv' [alias]` binding (reference: read_csv.rs /
        table_function.slt:37-52 — the bare path binds as a table whose qualifier
        is the file stem, or the explicit alias when given).

        The view gets a fresh name and the file stem becomes an ALIAS, so an
        existing table with the same name isn't clobbered and `stem.col`
        references still resolve.
        """
        import os

        from templatedb_spark import sqlparse
        from templatedb_spark.sources.csv import read_csv

        edits = []
        for start, end, path, alias in sqlparse.find_quoted_csv_sources(query):
            kw = query[start : start + 4]  # 'from' or 'join'
            stem = os.path.splitext(os.path.basename(path))[0]
            df = read_csv(self.spark, self._resolve(path))
            view = self._fresh_view(df, "csvfile")
            edits.append((start, end, f"{kw} {view} AS {alias or stem}"))
        return sqlparse.apply_edits(query, edits)

    def _rewrite_introspection(self, query: str) -> str:
        """template_query_tables() / template_query_columns() TVFs
        (reference: function/table/query_tables.rs, query_columns.rs)."""
        from templatedb_spark import sqlparse
        from templatedb_spark.functions.introspect import query_columns, query_tables

        for fname, builder, prefix in (
            ("template_query_tables", query_tables, "tables"),
            ("template_query_columns", query_columns, "columns"),
        ):
            calls = sqlparse.find_calls(query, fname)
            if calls:
                view = self._fresh_view(builder(self.spark, catalog=self.catalog), prefix)
                query = sqlparse.apply_edits(
                    query, [(s, e, view) for s, e, _ in calls]
                )
        return query

    def _in_scope_columns(self, query: str, tokens=None) -> set[str]:
        """Lowercased column names of every relation in the outer FROM —
        plain tables, CTEs, and aliased derived tables — the shadowing set
        for WHERE-alias substitution (reference binder checks the columns of
        every in-scope relation before select aliases,
        binder/expression/mod.rs:205-224)."""
        from templatedb_spark import sqlparse

        cols: set[str] = set()
        ctes, derived = sqlparse.named_subqueries_split(query, tokens)
        from_names = set(sqlparse.from_tables(query, tokens))
        # only relations the outer FROM actually references are in scope: a
        # DECLARED but unreferenced CTE must not shadow (the reference binder
        # resolves columns of referenced relations only) — derived tables are
        # outer-FROM members by construction
        subquery_names = {n for n in ctes if n in from_names} | set(derived)
        for name in from_names:
            if name in subquery_names:
                continue  # resolved below from the subquery body
            if self.catalog is not None and name in getattr(self.catalog, "tables", {}):
                cols.update(d.name.lower() for d in self.catalog.tables[name])
                continue
            try:
                cols.update(c.lower() for c in self.spark.table(name).columns)
            except Exception:
                pass  # unknown table: Spark will raise its own error later
        # CTE / derived-table output columns: a declared column alias list
        # (`WITH a(c1,c2) AS (...)`) fully determines the schema — use it
        # directly (r5 ADVICE: shadowing must use the DECLARED names, not
        # the body's output names). Otherwise plan (never execute) the body.
        # A body may reference EARLIER CTEs, so each body is planned with the
        # preceding declarations re-attached as a WITH prefix; a body that
        # itself starts with WITH gets the prefix SPLICED into its own WITH
        # list (r5 ADVICE: 'WITH a AS (...) WITH ...' never parses). The
        # textual select-alias fallback remains for unplannable bodies.
        declared_cols = sqlparse.cte_declared_columns(query, tokens)

        def _attach(prefix: str, body: str) -> str:
            if not prefix:
                return body
            stripped = body.lstrip()
            rest = stripped[4:]
            if stripped[:4].lower() == "with" and (not rest or not (rest[0].isalnum() or rest[0] == "_")):
                return f"WITH {prefix}, {rest.lstrip()}"
            return f"WITH {prefix} {body}"

        cte_list = list(ctes.items())
        # (attached body, declared alias list or None). DuckDB/Postgres allow
        # a PARTIAL alias list — `WITH a(c1) AS (SELECT x, y ...)` renames
        # only the first column and y keeps its body name — so a declared
        # list contributes its names AND the body is still planned for any
        # output columns beyond len(declared) (ADVICE r6: treating the list
        # as the full schema dropped those from the shadow set).
        bodies: list[tuple[str, list[str] | None]] = []
        for idx, (name, body) in enumerate(cte_list):
            if name not in from_names:
                continue
            declared = declared_cols.get(name)
            if declared:
                cols.update(c.lower() for c in declared)
            prefix = ", ".join(
                f"{n} ({', '.join(declared_cols[n])}) AS ({b})"
                if n in declared_cols
                else f"{n} AS ({b})"
                for n, b in cte_list[:idx]
            )
            bodies.append((_attach(prefix, body), declared))
        all_prefix = ", ".join(
            f"{n} ({', '.join(declared_cols[n])}) AS ({b})"
            if n in declared_cols
            else f"{n} AS ({b})"
            for n, b in cte_list
        )
        for body in derived.values():
            bodies.append((_attach(all_prefix, body), None))
        for body, declared in bodies:
            skip = len(declared) if declared else 0
            try:
                out_cols = self.spark.sql(body).columns
                cols.update(c.lower() for c in out_cols[skip:])
            except Exception:
                try:
                    body_tokens = sqlparse.tokenize(body)
                    clauses = sqlparse.top_level_clauses(body_tokens)
                    if "select" in clauses:
                        s, e = clauses["select"]
                        e = min(e, clauses["from"][0] - 1) if "from" in clauses else e
                        items = sqlparse.split_top_level(body_tokens[s:e])
                        for item in items[skip:]:
                            if item and item[-1].kind in ("ident", "dq"):
                                cols.add(item[-1].text.strip('"').lower())
                except Exception:
                    pass  # unparseable body: behave as before (no shadow)
        return cols

    # -- query -------------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        # The TVF rewrites register one temp view per call; spark.sql analyzes
        # eagerly, so the returned DataFrame holds the views' plans and the
        # views are dropped once it is planned (or planning failed). A temp
        # view defined over a TVF keeps them, since Spark re-resolves its
        # text on every read: they are recorded under its name and dropped
        # when a later statement drops or replaces that view.
        planned = False
        try:
            df = self._sql(query)
            planned = True
            return df
        finally:
            views, self._query_views = self._query_views, []
            stmt = _view_statement(query) if planned and (views or self._view_helpers) else None
            if stmt is not None:
                verb, name = stmt
                old = self._view_helpers.pop(name, [])
                if verb == "create" and views:
                    self._view_helpers[name], views = views, []
                views += old
            for view in views:
                self.spark.catalog.dropTempView(view)

    def _sql(self, query: str) -> DataFrame:
        from templatedb_spark import sqlparse

        if self.strict:
            frag = sqlparse.find_strict_literal_comparison(query)
            if frag is not None:
                raise StrictTypeError(
                    f"comparison between string literal and numeric literal: {frag!r} "
                    "(reference rejects at bind time: comparison_function.slt:1-8)"
                )
            sqlparse.check_derived_table_aliases(query)
        from templatedb_spark.functions.registry import rewrite_named_arithmetic

        query = rewrite_named_arithmetic(query)
        query = self._rewrite_read_csv(query)
        query = self._rewrite_quoted_csv(query)
        query = self._rewrite_introspection(query)
        query = sqlparse.normalize_offset_limit(query)
        # QUALIFY (DuckDB/Snowflake window filter; no Spark-native form) →
        # derived-table rewrite, before the alias shims see the final shape.
        # The resolver plans (never executes) the QUALIFY-less query so
        # SELECT * / DISTINCT / unaliased-expression select lists get their
        # output names from the analyzer instead of raising.
        query = sqlparse.rewrite_qualify(
            query, resolver=lambda inner: self.spark.sql(inner).columns
        )
        # one lex shared by the three final (non-editing) analyses
        tokens = sqlparse.tokenize(query)
        aliases = sqlparse.select_aliases(query, tokens)
        if aliases:
            query = sqlparse.substitute_where_aliases(
                query,
                aliases,
                shadowed=self._in_scope_columns(query, tokens),
                tokens=tokens,
            )
        return self.spark.sql(query)

    def explain(self, query: str) -> str:
        """EXPLAIN — renders the plan tree as a string
        (reference: bind_explain.rs / physical_explain.rs; tests/slt/explain.slt)."""
        from templatedb_spark.plans.explain import formatted_plan

        return formatted_plan(self.sql(query))

    # -- slt-compatible result rendering ------------------------------------
    @staticmethod
    def format_rows(df: DataFrame) -> list[list[str]]:
        """Render like the reference's record_batch_to_string: NULL / (empty)."""

        from decimal import Decimal

        def fmt(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, str):
                return "(empty)" if v == "" else v
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, float) and v == int(v):
                return str(int(v))
            if isinstance(v, Decimal):
                return str(int(v)) if v == v.to_integral_value() else str(v.normalize())
            return str(v)

        return [[fmt(v) for v in row] for row in df.collect()]
