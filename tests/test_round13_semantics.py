"""Round-13 semantic pins for the round-12 ADVICE items:

1. The paren-less MAP/REDUCE → SELECT TRANSFORM rewrite must not fire
   inside string literals ('map x using cat' stays literal text).
2. _rewrite_misc_hive_udfs call-site rewrites (substr/field/...) must
   skip call-shaped substrings inside string literals.
3. SHOW FUNCTIONS over a session alias prints just the function-name
   line; the "is a session function" sentence is DESCRIBE-only framing.
"""

from __future__ import annotations

import pytest

from apache_hive_2_1_1_src_spark.session import HiveEngine


@pytest.fixture(scope="module")
def eng(spark):
    e = HiveEngine(spark, "/root/testdata/sf0.001")
    e.register_tables()
    yield e
    e._vars = {}


# ------------------------------------ literal protection: MAP/REDUCE form
def test_map_using_inside_literal_not_rewritten(eng):
    rows = eng.sql("select 'map x using cat' as s").collect()
    assert rows[0][0] == "map x using cat"


def test_reduce_using_inside_literal_not_rewritten(eng):
    rows = eng.sql(
        "select 'reduce a, b using script' as s, 1 as n"
    ).collect()
    assert rows[0][0] == "reduce a, b using script"


# ----------------------------- literal protection: misc-UDF call rewrites
def test_substr_call_inside_literal_not_rewritten(eng):
    # the gate sees "substr(" and engages the rewriter; the literal
    # occurrence must come through verbatim while the real call-site
    # still gets Hive semantics (substr pos 0 → pos 1)
    rows = eng.sql(
        "select 'use substr(x, 1, 2) here' as s, substr('hello', 0, 2) as h"
    ).collect()
    assert rows[0][0] == "use substr(x, 1, 2) here"
    assert rows[0][1] == "he"


def test_field_call_inside_literal_not_rewritten(eng):
    rows = eng.sql(
        "select 'field(a, b)' as s, field('b', 'a', 'b') as f"
    ).collect()
    assert rows[0][0] == "field(a, b)"
    assert rows[0][1] == 2


# ------------------------------------------- SHOW FUNCTIONS name-only line
def test_show_functions_returns_bare_name(eng, spark):
    eng.sql(
        "create temporary function r13fn as "
        "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'"
    )
    shown = eng.sql("show functions r13fn").collect()
    assert len(shown) == 1
    assert "session function" not in shown[0][0]
    assert shown[0][0].endswith("r13fn")
    desc = eng.sql("describe function r13fn").collect()
    assert any("session function" in r[0] for r in desc)
    eng.sql("drop temporary function r13fn")
