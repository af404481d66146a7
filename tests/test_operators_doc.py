"""OPERATORS.md is generated from the registry (``tools/gen_operators_md.py``):
the committed file must equal the generator's output, so an edit to an op or
its register notes cannot leave the inventory stale. No Spark session."""

from __future__ import annotations

from tools.gen_operators_md import OUT, render


def test_operators_md_matches_registry():
    assert OUT.read_text() == render(), "stale: run python tools/gen_operators_md.py"
