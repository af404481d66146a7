"""The numeric node-id decode pass over compiled SQL fragments
(``cypher._decode_vars_sql``): references to an encoded-long node column
are rewritten to the string-id decode expression, string literals never.
Also the Cypher front-end's lexer helpers (``_mask``, ``_close``,
``_split_top``), which lex query text, where literals hold no escapes."""

from __future__ import annotations

import pytest

from mimranalytics_core_spark.catalog import decode_id_sql
from mimranalytics_core_spark.cypher import (
    CypherSyntaxError,
    _close,
    _decode_vars_sql,
    _mask,
    _split_top,
)


def test_escaped_quote_literal_is_untouched():
    # the literal holds \' followed by the var name: a scanner that ends the
    # literal at the escaped quote would rewrite the "a" inside it
    literal = r"'x\' a'"
    got = _decode_vars_sql(f"a = {literal} AND a > 1", {"a"})
    assert got == f"{decode_id_sql('a')} = {literal} AND {decode_id_sql('a')} > 1"


def test_label_prefix_and_plain_literal():
    got = _decode_vars_sql("a LIKE 'c:%' AND b = 'a'", {"a", "b"})
    assert got == f"(shiftright(a, 48) = 0) AND {decode_id_sql('b')} = 'a'"


def test_escaped_backslash_closes_literal():
    # '...\\' ends in an escaped backslash, so the quote after it closes
    # the literal: a scanner that read \' there as an escaped quote would
    # run the literal on and leave the "a" after it undecoded
    literal = r"'x\\'"
    got = _decode_vars_sql(f"{literal} = a", {"a"})
    assert got == f"{literal} = {decode_id_sql('a')}"


# ---- the Cypher front-end's lexer helpers ---------------------------------


@pytest.mark.parametrize(
    "text, masked",
    [
        ("a = 'x(y)' AND b", "a = 'xxxx' AND b"),
        ("'a''b'", "'x''x'"),  # adjacent literals
        ("f('', 'c')", "f('', 'x')"),  # empty literal
        ("no literal", "no literal"),
    ],
)
def test_mask_blanks_literal_interiors(text, masked):
    assert _mask(text) == masked and len(_mask(text)) == len(text)


@pytest.mark.parametrize(
    "text, i, end",
    [
        ("f(a, (b), [c])", 1, 14),  # nested brackets of mixed kinds
        ("[x IN {a: (1)} | x] + 1", 0, 19),
        ("g(')', ']') + 1", 1, 11),  # closers inside literals are data
        ("(CASE WHEN a THEN (b) END)", 0, 26),
        ("x CASE WHEN a THEN CASE b END END y", 2, 33),  # CASE … END spans
        ("f('')", 1, 5),
    ],
)
def test_close_matches_brackets(text, i, end):
    assert _close(text, i) == end


def test_close_rejects_an_unclosed_bracket():
    with pytest.raises(CypherSyntaxError, match="unbalanced brackets"):
        _close("f(a, [b)", 1)


@pytest.mark.parametrize(
    "text, sep, parts",
    [
        ("a, f(b, c), [d, e], {k: 1, j: 2}", ",", ["a", " f(b, c)", " [d, e]", " {k: 1, j: 2}"]),
        ("'a, b', 'c'", ",", ["'a, b'", " 'c'"]),  # commas inside literals
        ("''|''", r"\|", ["''", "''"]),  # adjacent empty literals
        ("x AND CASE WHEN a AND b THEN 1 END = 1", r"\bAND\b", ["x ", " CASE WHEN a AND b THEN 1 END = 1"]),
        ("'AND' AND (a AND b)", r"\bAND\b", ["'AND' ", " (a AND b)"]),
        ("a or b", r"\bOR\b", ["a ", " b"]),  # keywords are case-insensitive
        ("band, orb", r"\bAND\b", ["band, orb"]),  # word-bounded
        ("WHEN a THEN b END", r"\b(?:WHEN|THEN|END)\b", ["", " a ", " b ", ""]),
    ],
)
def test_split_top_respects_literals_brackets_and_case(text, sep, parts):
    assert _split_top(text, sep) == parts
