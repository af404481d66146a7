"""The numeric node-id decode pass over compiled SQL fragments
(``cypher._decode_vars_sql``): references to an encoded-long node column
are rewritten to the string-id decode expression, string literals never."""

from __future__ import annotations

from mimranalytics_core_spark.catalog import decode_id_sql
from mimranalytics_core_spark.cypher import _decode_vars_sql


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
