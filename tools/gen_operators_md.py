#!/usr/bin/env python
"""Generate OPERATORS.md — the implemented-operator inventory — from the
registry, so the doc can never drift from the code. Run: python tools/gen_operators_md.py
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mimranalytics_core_spark.registry import all_ops  # noqa: E402

HEADER = """# OPERATORS — implemented inventory (generated from the registry)

One row per declared query in `queries()` (`__spark_entry__.py`), grouped by
family. **Oracle** ✔ = DuckDB SQL twin shipped in `oracle_sql()` (driver
hash-checks at sf0.01); *rows-only* = genuinely non-SQL-expressible
(approx sketches, streaming state, iterative fixpoints, engine-specific
candidate sets) per the driver contract. Notes carry each op's provenance
(reference README.md line) and 100 TB scale posture.

Maps 1:1 onto SURVEY.md §2's planned inventory. Regenerate with
`python tools/gen_operators_md.py`.
"""


OUT = Path(__file__).resolve().parent.parent / "OPERATORS.md"


def render() -> str:
    """The text of OPERATORS.md for the current registry."""
    ops = all_ops()
    by_cat: dict[str, list] = defaultdict(list)
    for spec in ops.values():
        by_cat[spec.category].append(spec)

    lines = [HEADER]
    n_oracle = sum(1 for s in ops.values() if s.oracle is not None)
    lines.append(
        f"**{len(ops)} declared queries — {n_oracle} oracle-checked, "
        f"{len(ops) - n_oracle} rows-only.**\n"
    )
    for cat in sorted(by_cat):
        lines.append(f"\n## {cat} ({len(by_cat[cat])})\n")
        lines.append("| op | oracle | notes |")
        lines.append("|---|---|---|")
        for spec in sorted(by_cat[cat], key=lambda s: s.name):
            oracle = "✔" if spec.oracle is not None else "*rows-only*"
            notes = " ".join(spec.notes.split())
            lines.append(f"| `{spec.name}` | {oracle} | {notes} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    OUT.write_text(render())
    print(f"wrote {OUT.name}")


if __name__ == "__main__":
    main()
