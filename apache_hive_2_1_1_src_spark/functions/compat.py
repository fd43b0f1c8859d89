"""Scalar-function gap set: Hive functions with no same-name Spark builtin.

Each function cites its reference implementation.  All are implemented as
*compositions of JVM builtins* (Column expressions) — no Python UDFs — so
they stay inside whole-stage codegen and cost nothing at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def nvl(col: Column, default: Column | str | int | float) -> Column:
    """Hive ``nvl(value, default)`` — ql/.../udf/generic/GenericUDFNvl.java.
    Identical to coalesce(value, default)."""
    d = default if isinstance(default, Column) else F.lit(default)
    return F.coalesce(col, d)


def sum0(col: Column) -> Column:
    """Hive ``$SUM0`` (FunctionRegistry.java:379, GenericUDAFSumEmptyIsZero):
    like sum() but returns 0 instead of NULL on an empty/all-null group."""
    return F.coalesce(F.sum(col), F.lit(0).cast("double"))


def field(needle: Column, *haystack: Column | str) -> Column:
    """Hive ``field(v, a, b, c, ...)`` → 1-based index of first arg equal to
    v, else 0 — ql/.../udf/generic/GenericUDFField.java."""
    cols = [c if isinstance(c, Column) else F.lit(c) for c in haystack]
    expr: Column = F.lit(0)
    # build right-to-left: when(v == a, 1).otherwise(when(v == b, 2)...)
    for i in range(len(cols) - 1, -1, -1):
        expr = F.when(needle == cols[i], F.lit(i + 1)).otherwise(expr)
    return expr


def elt(index: Column, *choices: Column | str) -> Column:
    """Hive ``elt(n, a, b, ...)`` → n-th arg (1-based), NULL out of range —
    ql/.../udf/UDFElt.java.  Spark has ``elt`` in SQL; exposed here for the
    DataFrame API."""
    cols = [c if isinstance(c, Column) else F.lit(c) for c in choices]
    expr: Column = F.lit(None).cast("string")
    for i in range(len(cols) - 1, -1, -1):
        expr = F.when(index == F.lit(i + 1), cols[i]).otherwise(expr)
    return expr


#: parse_url part names supported by Hive — ql/.../udf/generic/GenericUDFParseUrl.java
_URL_PARTS = ("HOST", "PATH", "QUERY", "REF", "PROTOCOL", "AUTHORITY", "FILE", "USERINFO")


def parse_url(url: Column, part: str, key: str | None = None) -> Column:
    """Hive ``parse_url(url, part[, key])`` —
    ql/.../udf/generic/GenericUDFParseUrl.java.  Spark 4 ships a builtin
    ``parse_url``; we delegate, with regex fallback semantics documented in
    queries/functions_sql.py's oracle."""
    if key is not None:
        return F.parse_url(url, F.lit(part), F.lit(key))
    return F.parse_url(url, F.lit(part))


def parse_url_tuple(url: Column, *parts: str) -> list[Column]:
    """Hive UDTF ``parse_url_tuple(url, p1, p2, ...)`` —
    ql/.../udf/generic/GenericUDTFParseUrlTuple.java.  Hive emits one row of
    N columns; as SURVEY.md §2.6 notes this composes as parse_url × N."""
    out = []
    for p in parts:
        if ":" in p:  # QUERY:<key>
            part, key = p.split(":", 1)
            out.append(parse_url(url, part, key).alias(p.lower().replace(":", "_")))
        else:
            out.append(parse_url(url, p).alias(p.lower()))
    return out


def hive_greatest(*cols: Column) -> Column:
    """Hive 2.1 ``greatest`` (GenericUDFGreatest.java via
    GenericUDFBaseNwayCompare.evaluate — udf_greatest.q pins it):
    returns NULL if ANY argument is NULL, else the maximum.  Spark's
    builtin ``greatest`` SKIPS nulls (largest non-null), so this
    null-propagating form is a genuine compat divergence; pure Column
    composition, codegen-side."""
    any_null: Column = F.lit(False)
    for c in cols:
        any_null = any_null | c.isNull()
    return F.when(any_null, F.lit(None)).otherwise(F.greatest(*cols))


def hive_least(*cols: Column) -> Column:
    """Hive 2.1 ``least`` (GenericUDFLeast.java) — NULL if any argument
    is NULL, else the minimum; see hive_greatest."""
    any_null: Column = F.lit(False)
    for c in cols:
        any_null = any_null | c.isNull()
    return F.when(any_null, F.lit(None)).otherwise(F.least(*cols))


def str_to_map(col: Column, pair_delim: str = ",", kv_delim: str = ":") -> Column:
    """Hive ``str_to_map`` — ql/.../udf/generic/GenericUDFStringToMap.java.
    Spark builtin exists; re-exported with Hive's default delimiters."""
    return F.str_to_map(col, F.lit(pair_delim), F.lit(kv_delim))


def in_file(col: Column, path: str) -> Column:
    """Hive ``in_file(str, filename)`` — ql/.../udf/generic/GenericUDFInFile.java:1.

    Hive reads the file once per task on the executor; here the line set is
    read once driver-side at plan-build time and inlined as a literal array
    (Catalyst broadcasts literals with the serialized plan).  Same contract:
    exact line match, no trimming.  Bounded by design — the reference loads
    the whole file into a HashSet per task too, so file size is already
    assumed small."""
    with open(path) as f:
        lines = [ln.rstrip("\n") for ln in f]
    return col.isin(lines) if lines else F.lit(False)


def register_hive_udfs(spark: SparkSession) -> None:
    """CREATE TEMPORARY FUNCTION surface
    (ql/.../parse/FunctionSemanticAnalyzer.java → spark.udf.register).

    Registers the gap-set functions for SQL-text callers.  Python UDFs are
    the slow path (row-at-a-time, SURVEY.md §2.7) — SQL-visible wrappers use
    them only where expression registration isn't available from Python.
    """
    spark.udf.register("py_nvl", lambda v, d: v if v is not None else d)
    spark.udf.register(
        "py_field",
        lambda v, *args: next((i + 1 for i, a in enumerate(args) if a == v), 0),
        "int",
    )
