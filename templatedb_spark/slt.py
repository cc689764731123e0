"""Mechanical sqllogictest (.slt) runner over the reference's own test corpus.

The reference drives its twenty ``tests/slt/**/*.slt`` files through the
sqllogictest-rs harness twice — once against the v1 engine (with every
``tests/csv/*.csv`` pre-registered as a table named by file stem) and once
against the v2 engine with a fresh catalog (reference:
tests/sql_logic/src/lib.rs:10-35, tests/sql_logic/tests/sql_logic.rs:16-35).
This module replays the same files against the Spark engine:

- record grammar: ``statement ok`` / ``statement error`` / ``query <types>
  [rowsort]`` with ``----``-separated expected output, ``skipif <engine>`` /
  ``onlyif <engine>`` gating, ``#`` comments, blank-line record separation;
- rendering: the reference's ``record_batch_to_string`` rules (NULL prints
  ``NULL``, the empty string prints ``(empty)``) via ``Engine.format_rows``;
- ordering: the reference's single-threaded volcano executor emits rows in a
  deterministic order, Spark does not — records whose SQL has no top-level
  ORDER BY are compared as sorted multisets (the VERDICT-sanctioned "sort
  where group order is unspecified"), ORDER BY queries compare exactly.

Statements route through the DDL/DML surface (``templatedb_spark.ddl.Catalog``)
for CREATE/INSERT/COPY and through ``Engine.sql`` for everything else, the same
split the reference makes between bound statements and table-function queries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession

from templatedb_spark import sqlparse
from templatedb_spark.ddl import Catalog
from templatedb_spark.engine import Engine

# Our engine persona when emulating the reference's v2 run (DatabaseWrapperV2).
V2 = "template_query_v2"
# Persona for the v1 run: any label that matches no gating directive.
V1 = "v1"

# Golden outputs in the reference corpus that are provably wrong in the
# reference itself; our runner asserts the *correct* value instead and records
# the deviation. Keyed by (file stem, normalized SQL).
KNOWN_DEVIATIONS: dict[tuple[str, str], list[str]] = {
    # date - interval '1' day off-by-one: the reference's golden says
    # 1998-11-29 for 1998-12-01 - 1 day (tests/slt/time.slt:31-35); both Spark
    # and DuckDB produce 1998-11-30.
    ("time", "select date '1998-12-01' - interval '1' day;"): ["1998-11-30"],
}


@dataclass
class SltRecord:
    kind: str  # "statement" | "query"
    sql: str
    expect_error: bool = False
    expected: list[str] = field(default_factory=list)
    sort_mode: str = "nosort"  # "nosort" | "rowsort"
    conditions: list[tuple[str, str]] = field(default_factory=list)  # (skipif|onlyif, label)
    line: int = 0

    def applies_to(self, engine_name: str) -> bool:
        for kind, label in self.conditions:
            if kind == "skipif" and label == engine_name:
                return False
            if kind == "onlyif" and label != engine_name:
                return False
        return True


def parse_slt(text: str) -> list[SltRecord]:
    lines = text.splitlines()
    records: list[SltRecord] = []
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        conditions: list[tuple[str, str]] = []
        while line.split() and line.split()[0] in ("skipif", "onlyif"):
            kind, label = line.split(None, 1)
            conditions.append((kind, label.strip()))
            i += 1
            line = lines[i].strip()
        head = line.split()
        start = i + 1
        if head[0] == "statement":
            expect_error = head[1] == "error"
            sql_lines = []
            i += 1
            while i < len(lines) and lines[i].strip() and not lines[i].startswith("#"):
                sql_lines.append(lines[i])
                i += 1
            records.append(
                SltRecord(
                    "statement",
                    "\n".join(sql_lines).strip(),
                    expect_error=expect_error,
                    conditions=conditions,
                    line=start,
                )
            )
        elif head[0] == "query":
            sort_mode = "rowsort" if "rowsort" in head[2:] else "nosort"
            sql_lines = []
            i += 1
            while i < len(lines) and lines[i].strip() != "----":
                sql_lines.append(lines[i])
                i += 1
            i += 1  # skip ----
            expected = []
            while i < len(lines) and lines[i].strip():
                expected.append(lines[i].rstrip())
                i += 1
            records.append(
                SltRecord(
                    "query",
                    "\n".join(sql_lines).strip(),
                    expected=expected,
                    sort_mode=sort_mode,
                    conditions=conditions,
                    line=start,
                )
            )
        else:
            raise ValueError(f"unrecognized slt directive at line {i + 1}: {line!r}")
    return records


# ---------------------------------------------------------------------------
# Statement dispatch: the `Database::run(sql)` twin for the DDL/DML surface.
# ---------------------------------------------------------------------------
_VALUES_RE = re.compile(r"(?is)^insert\s+into\s+(\w+)\s*(\(([^)]*)\))?\s*values\s*(.+)$")
_INSERT_SELECT_RE = re.compile(r"(?is)^insert\s+into\s+(\w+)\s*(\(([^)]*)\))?\s*(select\b.+)$")
_CTAS_RE = re.compile(r"(?is)^create\s+table\s+(\w+)\s+as\s+(select\b.+)$")
_COPY_RE = re.compile(r"(?is)^copy\s+(\w+)\s+from\s+'([^']+)'\s*(?:\((.*)\))?\s*$")


def _parse_literal(tok: str):
    tok = tok.strip()
    low = tok.lower()
    if low == "null":
        return None
    if low == "true":
        return True
    if low == "false":
        return False
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1].replace("''", "'")
    m = re.match(r"(?i)^date\s+'([^']+)'$", tok)
    if m:
        import datetime

        return datetime.date.fromisoformat(m.group(1))
    try:
        return int(tok)
    except ValueError:
        return float(tok)


def _split_sql(text: str, sep: str = ",") -> list[str]:
    """The non-empty pieces of `text` between top-level `sep` tokens: split on
    the sqlparse tokens, so a `sep` or quote inside a string literal or a
    comment splits nothing, and comments outside the pieces are dropped."""
    pieces = sqlparse.split_top_level(sqlparse.tokenize(text), sep)
    return [text[p[0].start : p[-1].end] for p in pieces if p]


def _parse_values_rows(values_text: str) -> list[tuple]:
    """`(v, ...), (v, ...)` -> one tuple of literals per parenthesized row."""
    return [
        tuple(_parse_literal(v) for v in _split_sql(row[1:-1]))
        for row in _split_sql(values_text)
    ]


class SltSession:
    """One slt file run: fresh Catalog + Engine over a shared SparkSession."""

    def __init__(self, spark: SparkSession, base_dir: str, strict: bool = True):
        self.spark = spark
        self.catalog = Catalog(spark)
        self.engine = Engine(spark, strict=strict, base_dir=base_dir, catalog=self.catalog)

    def run(self, sql_block: str):
        """Execute a (possibly multi-statement) SQL block; return the last
        statement's DataFrame, or None for DDL/DML."""
        result = None
        for stmt in _split_sql(sql_block, ";"):
            result = self._run_one(stmt)
        return result

    def _run_one(self, stmt: str):
        low = stmt.strip().lower()
        if m := _CTAS_RE.match(stmt):
            df = self.engine.sql(m.group(2))
            self.catalog.create_table_as(m.group(1), df)
            return None
        if low.startswith("create table"):
            self.catalog.create_table(stmt)
            return None
        if m := _VALUES_RE.match(stmt):
            cols = _split_sql(m.group(3)) if m.group(3) else None
            self.catalog.insert(m.group(1), _parse_values_rows(m.group(4)), columns=cols)
            return None
        if m := _INSERT_SELECT_RE.match(stmt):
            cols = _split_sql(m.group(3)) if m.group(3) else None
            self.catalog.insert(m.group(1), self.engine.sql(m.group(4)), columns=cols)
            return None
        if m := _COPY_RE.match(stmt):
            opts = m.group(3) or ""
            dm = re.search(r"(?i)delimiter\s+'([^']*)'", opts)
            header = not re.search(r"(?i)header\s+false", opts)
            self.catalog.copy_from(
                m.group(1),
                self.engine._resolve(m.group(2)),
                header=header,
                delim=dm.group(1) if dm else ",",
            )
            return None
        if low.startswith("show tables"):
            from templatedb_spark.functions.introspect import query_tables

            return query_tables(self.spark, catalog=self.catalog).select(
                "schema_name", "table_name"
            )
        if low.startswith("describe"):
            from templatedb_spark.functions.introspect import query_columns

            name = stmt.split()[1].strip(";").lower()
            return query_columns(self.spark, table=name, catalog=self.catalog)
        if low.startswith("explain"):
            self.engine.explain(re.sub(r"(?is)^explain\s+", "", stmt))
            return None
        return self.engine.sql(stmt)


@dataclass
class SltFailure:
    file: str
    line: int
    sql: str
    reason: str

    def __str__(self) -> str:  # pragma: no cover - debugging aid
        return f"{self.file}:{self.line}: {self.reason}\n  {self.sql}"


def _normalize(lines: list[str]) -> list[str]:
    return [" ".join(line.split()) for line in lines]


def run_slt_file(
    spark: SparkSession,
    path: str | Path,
    engine_name: str,
    base_dir: str,
    csv_fixture_dir: str | None = None,
) -> tuple[int, list[SltFailure]]:
    """Run one .slt file under the given engine persona.

    Returns (records_executed, failures). ``csv_fixture_dir`` pre-registers
    every CSV under it as a table named by file stem — the v1 harness contract
    (tests/sql_logic/src/lib.rs:10-22).
    """
    path = Path(path)
    # fresh namespace per file, like the reference's per-file Database
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    if csv_fixture_dir is not None:
        from templatedb_spark.catalog import register_csv_dir

        register_csv_dir(spark, csv_fixture_dir)
    session = SltSession(spark, base_dir=base_dir)

    records = parse_slt(path.read_text())
    executed = 0
    failures: list[SltFailure] = []
    for rec in records:
        if not rec.applies_to(engine_name):
            continue
        executed += 1
        if rec.kind == "statement":
            try:
                df = session.run(rec.sql)
                if df is not None:
                    df.collect()  # force execution so runtime errors surface
                if rec.expect_error:
                    failures.append(
                        SltFailure(path.name, rec.line, rec.sql, "expected error, got success")
                    )
            except Exception as e:
                if not rec.expect_error:
                    failures.append(
                        SltFailure(
                            path.name, rec.line, rec.sql, f"{type(e).__name__}: {str(e)[:200]}"
                        )
                    )
            continue
        # query record
        try:
            df = session.run(rec.sql)
            got = [" ".join(r) for r in Engine.format_rows(df)]
        except Exception as e:
            failures.append(
                SltFailure(path.name, rec.line, rec.sql, f"{type(e).__name__}: {str(e)[:200]}")
            )
            continue
        key = (path.stem, " ".join(rec.sql.split()).lower())
        expected = KNOWN_DEVIATIONS.get(key, rec.expected)
        expected = _normalize(expected)
        got = _normalize(got)
        ordered = rec.sort_mode == "nosort" and re.search(r"(?i)\border\s+by\b", rec.sql)
        if not ordered:
            expected, got = sorted(expected), sorted(got)
        if got != expected:
            failures.append(
                SltFailure(
                    path.name,
                    rec.line,
                    rec.sql,
                    f"rows mismatch\n  expected: {expected}\n  got:      {got}",
                )
            )
    return executed, failures
