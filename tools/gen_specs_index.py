"""Generate SPECS.md: one row per registered QuerySpec (name, defining
module, oracle kind, description) so coverage claims can be cross-checked
against the registry mechanically. Regenerate after adding specs:

    python tools/gen_specs_index.py
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from templatedb_spark.suite import all_specs

    specs = all_specs()
    lines = [
        "# SPECS — registry index (auto-generated by tools/gen_specs_index.py)",
        "",
        f"{len(specs)} registered specs; "
        f"{sum(1 for s in specs.values() if s.oracle)} with DuckDB oracles. "
        "Listed in registry-audit order (never/re-audit-first — the order the "
        "driver's capped correctness gate consumes).",
        "",
        "| # | spec | module | oracle | description |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(specs.items(), 1):
        mod = spec.spark.__module__.replace("templatedb_spark.", "")
        kind = "exact SQL" if spec.oracle else "rows-only"
        lines.append(f"| {i} | `{name}` | `{mod}` | {kind} | {spec.doc} |")
    (ROOT / "SPECS.md").write_text("\n".join(lines) + "\n")
    print(f"SPECS.md: {len(specs)} rows")


if __name__ == "__main__":
    main()
