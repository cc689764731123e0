"""Capture .explain("formatted") for every (or selected) QuerySpec.

Usage:
    python tools/capture_plans.py OUTDIR [SF_DIR] [name ...]

Writes OUTDIR/<name>.txt with the formatted physical plan. Streaming/KV
specs whose spark() callable executes triggers eagerly are skipped (their
"plan" is a trigger chain, not one DataFrame plan); they are listed in
OUTDIR/_skipped.txt.
"""

from __future__ import annotations

import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    outdir = Path(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:]
    outdir.mkdir(parents=True, exist_ok=True)

    from templatedb_spark.session import sized_session
    from templatedb_spark.suite import all_specs

    spark = sized_session(sf_dir)

    specs = all_specs()
    if names:
        specs = {n: specs[n] for n in names}

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    skipped: list[str] = []
    for name, spec in specs.items():
        # Streaming gate specs run trigger chains inside spec.spark() — the
        # returned DF is the final static read, so its plan IS meaningful,
        # but executing the chain here is slow; allow skipping via prefix.
        try:
            df = spec.spark(spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(mode)
            (outdir / f"{name}.txt").write_text(txt)
            print(f"ok   {name}")
        except Exception as e:
            skipped.append(f"{name}: {type(e).__name__}: {e}")
            print(f"SKIP {name}: {type(e).__name__}: {e}")
            traceback.print_exc(limit=1)
    if skipped:
        (outdir / "_skipped.txt").write_text("\n".join(skipped) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
