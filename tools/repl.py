"""Interactive SQL REPL — the reference's CLI re-expressed
(reference: src/query_engine/src/cli.rs, main.rs:17-32):

- multi-line SQL accumulated until a trailing ``;`` (prompt ``> `` / ``? ``,
  cli.rs:86-105)
- ``\\``-prefixed internal commands (cli.rs:108-140):
  ``\\load csv <table> <file>``, ``\\dt`` (show tables), ``\\explain <sql>``
- readline history persisted to the cache dir (cli.rs:51-80)
- per-query wall time printed after execution (cli.rs:22-30)

Statements route through the same DDL/DML dispatch the slt harness uses
(``templatedb_spark.slt.SltSession``), so CREATE/INSERT/COPY, the read_csv
TVF, implicit ``FROM 'file.csv'`` binding, and introspection TVFs all work.

Usage: python tools/repl.py [sf_dir]
"""

from __future__ import annotations

import atexit
import os
import readline
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HISTORY = os.path.expanduser("~/.cache/templatedb_spark/history.txt")


def read_sql() -> str | None:
    """Accumulate lines until one ends with ';' (internal commands return
    immediately); None on EOF. Mirrors cli.rs read_sql."""
    sql = ""
    while True:
        try:
            line = input("> " if not sql else "? ")
        except KeyboardInterrupt:
            print("Interrupted")
            sql = ""
            continue
        except EOFError:
            print("Exited")
            return None
        if not line.strip():
            continue
        if line.startswith("\\") and not sql:
            return line.strip()
        sql += line
        if line.rstrip().endswith(";"):
            return sql
        sql += "\n"


def main() -> None:
    from templatedb_spark.slt import SltSession
    from templatedb_spark.session import sized_session

    os.makedirs(os.path.dirname(HISTORY), exist_ok=True)
    try:
        readline.read_history_file(HISTORY)
    except (FileNotFoundError, OSError):
        print("No previous history.")
    atexit.register(readline.write_history_file, HISTORY)

    spark = sized_session(sys.argv[1] if len(sys.argv) > 1 else None)
    session = SltSession(spark, base_dir=os.getcwd(), strict=False)
    if len(sys.argv) > 1:
        session.engine.register_parquet_dir(sys.argv[1])
        print(f"registered tables from {sys.argv[1]}")

    print("templatedb-spark REPL — SQL ending in ';', \\dt, \\load csv, \\explain, \\q")
    while True:
        sql = read_sql()
        if sql is None:
            break
        readline.add_history(sql)
        if sql in ("\\q", "exit;", "quit;"):
            break
        t0 = time.time()
        try:
            if sql.startswith("\\"):
                run_internal(session, sql[1:])
            else:
                df = session.run(sql)
                if df is not None:
                    for row in session.engine.format_rows(df.limit(50)):
                        print("\t".join(row))
        except Exception as e:  # surface, keep REPL alive (cli.rs: Run Error)
            print(f"Run Error: {e}")
        print(f"time consumed: {time.time() - t0:.3f}s")


def run_internal(session, cmds: str) -> None:
    """cli.rs run_internal: \\load csv, \\dt, \\explain."""
    if cmds.startswith("load csv"):
        rest = cmds[len("load csv") :].strip()
        parts = rest.split(None, 1)
        if len(parts) != 2:
            print("Incorrect load csv command")
            return
        table_name, filepath = parts[0].strip(), parts[1].strip()
        from templatedb_spark.sources.csv import read_csv

        read_csv(session.spark, filepath).createOrReplaceTempView(table_name)
        print(f"Run Internal load csv {table_name} Success")
    elif cmds.startswith("dt"):
        for row in session.engine.format_rows(session.run("show tables")):
            print("\t".join(row))
    elif cmds.startswith("explain"):
        sql = cmds[len("explain") :].strip()
        print(f"\nexplain result for: {sql}\n")
        print(session.engine.explain(sql))
    else:
        print("Unknown internal command")


if __name__ == "__main__":
    main()
