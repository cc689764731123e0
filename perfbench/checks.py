"""Output checks, run after the timed window.

- Specs (olap_sf01, stream_chains): Spark's rows against the spec's DuckDB
  oracle over the same generated tables, with the repo's oracle
  normalization (tools/check_oracle.py).
- interactive KV reads: against a dict model replayed over the same ops.
- interactive SQL: DuckDB replays the same CREATE/INSERT statements and
  runs the same SELECT text.

A check returns the names of wrong results; the caller counts every op that
produced one as a failed op.
"""

from __future__ import annotations

from tools.check_oracle import normalize

from perfbench.workloads import Op


def spec_mismatch(spark_pd, duck_pd) -> str | None:
    """None when the two result frames agree, else why not."""
    s_cols, d_cols = sorted(spark_pd.columns), sorted(duck_pd.columns)
    if s_cols != d_cols:
        return f"columns differ: {s_cols} vs {d_cols}"
    s_rows, d_rows = normalize(spark_pd), normalize(duck_pd)
    if len(s_rows) != len(d_rows):
        return f"row count {len(s_rows)} vs {len(d_rows)}"
    if s_rows != d_rows:
        return "values differ"
    return None


def duckdb_over(sf_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class KVModel:
    """Dict model of one KVTable: puts then deletes per batch (delete wins),
    compaction changes nothing a reader can see."""

    def __init__(self, initial: dict[str, str]):
        self.data = dict(initial)

    def apply(self, op: Op):
        """Expected result of op (None for writes)."""
        if op.kind == "kv.write":
            puts, dels = op.args
            self.data.update(puts)
            for k in dels:
                self.data.pop(k, None)
            return None
        if op.kind == "kv.get":
            return self.data.get(op.args[0])
        if op.kind == "kv.scan":
            start, end = op.args
            return [(k, self.data[k]) for k in sorted(self.data) if start <= k < end]
        return None

    def live_bytes(self) -> int:
        return sum(len(k) + len(v) for k, v in self.data.items())


class SqlModel:
    """DuckDB twin of the interactive SQL surface."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()

    def apply(self, op: Op):
        if op.kind == "sql.create":
            self.con.execute(op.args[0].replace("CREATE TABLE", "CREATE OR REPLACE TABLE", 1))
            return None
        if op.kind == "sql.insert":
            rows = op.args[0]
            marks = ", ".join("?" for _ in rows[0])
            self.con.executemany(f"INSERT INTO {op.name} VALUES ({marks})", [list(r) for r in rows])
            return None
        if op.kind == "sql.select":
            return [tuple(r) for r in self.con.execute(op.args[0]).fetchall()]
        return None


def check_interactive(setup_ops: list[Op], done: list[tuple[Op, object]], kv_initial: dict[str, str]):
    """Replays the set-up and executed ops through both models; returns
    (indices of wrong results in ``done``, the KV model at the end)."""
    kv, sql = KVModel(kv_initial), SqlModel()
    for op in setup_ops:
        (kv if op.kind.startswith("kv.") else sql).apply(op)
    wrong = []
    for i, (op, got) in enumerate(done):
        want = kv.apply(op) if op.kind.startswith("kv.") else sql.apply(op)
        if op.kind in ("kv.get", "kv.scan", "sql.select") and got != want:
            wrong.append(i)
    return wrong, kv
