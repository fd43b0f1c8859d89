#!/usr/bin/env python
"""Line-by-line function-parity audit against the reference's
FunctionRegistry (ql/src/java/org/apache/hadoop/hive/ql/exec/
FunctionRegistry.java:183-520, 247 registrations — SURVEY §2.5).

For every name Hive 2.1.1 registers, classify how THIS engine provides
it:

* ``spark-builtin``  — resolves in a live SparkSession catalog under
  the same name (the overwhelming majority: Spark inherited Hive's
  function surface);
* ``compat-shim``    — provided by functions/compat.py or an engine
  module under the same semantics (nvl, $SUM0, hash, parse_url_tuple,
  in_file, …), with the providing symbol listed;
* ``engine-op``      — language/operator surface covered by a registry
  query rather than a callable (CASE/WHEN, BETWEEN, IN, comparison and
  arithmetic operators — q53/q54 oracle-check them);
* ``unsupported``    — registered as a fail-loudly stub with guidance
  (functions/unsupported.py), mirroring Hive 3's own removals;
* ``MISSING``        — none of the above: the audit fails.

Writes docs/FUNCTION_PARITY.md and exits non-zero on any MISSING name,
so the audit is re-runnable as a gate.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REGISTRY_JAVA = (
    "/root/reference/ql/src/java/org/apache/hadoop/hive/ql/exec/FunctionRegistry.java"
)

# name → (kind, provider, note)
SHIMS: dict[str, tuple[str, str]] = {
    "$sum0": ("functions/compat.py:sum0", "SUM that yields 0 (not NULL) on empty input"),
    "nvl": ("functions/compat.py:nvl", "coalesce-2 alias; also registered for SQL as py_nvl"),
    "hash": ("operators/bucketing.py:hive_hash_value", "ObjectInspectorUtils.hashCode semantics, shared with bucketing and compute_stats"),
    "parse_url_tuple": ("functions/compat.py:parse_url_tuple", "UDTF composed as parse_url × N"),
    "in_file": ("functions/compat.py:in_file", "line-set membership, file inlined at plan time"),
    "field": ("functions/compat.py:field", "1-based index of first match"),
    "elt": ("functions/compat.py:elt", "n-th string"),
    "context_ngrams": ("functions/ngrams.py", "distributed exact estimator (q35)"),
    "ngrams": ("functions/ngrams.py", "distributed exact estimator (q34)"),
    "sentences": ("queries/functions_sql.py:q67", "locale-less sentence/word tokenize"),
    "create_union": ("functions/unsupported.py:encode_uniontype_as_struct", "uniontype as tagged struct (SURVEY §1.2)"),
    "compute_stats": ("queries/misc.py:q95/q164", "ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]"),
    "percentile": ("queries/aggregates.py:q26/q104", "exact percentile incl. array form"),
    "matchpath": ("operators/matchpath.py", "path-pattern PTF (q101)"),
}

ENGINE_OPS: dict[str, str] = {
    "!": "q54 bitwise/logical pack", "!=": "q02 filters", "%": "q54", "&": "q54",
    "*": "arithmetic (every TPC-H query)", "+": "arithmetic", "-": "arithmetic",
    "/": "arithmetic", "<": "filters", "<=": "filters", "<=>": "q154 null-safe equality",
    "<>": "filters", "=": "filters", "==": "filters", ">": "filters", ">=": "filters",
    "^": "q54", "|": "q54", "~": "q54",
    "and": "boolean surface", "or": "boolean surface", "not": "boolean surface",
    "between": "q52 date/range filters", "in": "q08 IN rewrite",
    "case": "q53 conditional pack", "when": "q53", "if": "q53",
    "like": "q105", "rlike": "q105", "regexp": "q105 (alias of rlike)",
    "index": "array/map element access (q60 complex-type pack)",
    "div": "q154 integer division",
    "isnull": "q53 (IS NULL predicate)", "isnotnull": "q53",
}

# Spark-builtin names that deserve a pointer to their certification
BUILTIN_NOTES: dict[str, str] = {
    "reflect": "q212 (CallMethodViaReflection, static form)",
    "java_method": "q212 (CallMethodViaReflection, static form)",
}

UNSUPPORTED_NOTES: dict[str, str] = {
    "reflect2": "instance-method reflection — fail-loudly stub",
    "ewah_bitmap": "bitmap-index internal (removed in Hive 3)",
    "ewah_bitmap_and": "bitmap-index internal",
    "ewah_bitmap_or": "bitmap-index internal",
    "ewah_bitmap_empty": "bitmap-index internal",
    "get_splits": "LLAP split generation — LLAP is scoped out (SURVEY §2)",
}

# Hive name → Spark name when they differ but semantics match
RENAMES: dict[str, str] = {
    "lcase": "lower",
    "ucase": "upper",
    "sha": "sha1",
    "std": "stddev",
    "pow": "pow",
}


def main() -> int:
    src = open(REGISTRY_JAVA).read()
    names = sorted(
        {m.group(1).lower() for m in re.finditer(r'register[A-Za-z]*\("([^"]+)"', src)}
    )

    from apache_hive_2_1_1_src_spark.session import build_session

    spark = build_session(app_name="function-parity", shuffle_partitions=4)

    def spark_builtin(name: str) -> bool:
        try:
            spark.sql(f"DESCRIBE FUNCTION `{name}`")
            return True
        except Exception:
            return False

    rows: list[tuple[str, str, str]] = []
    missing: list[str] = []
    for name in names:
        if name in SHIMS:
            rows.append((name, "compat-shim", f"{SHIMS[name][0]} — {SHIMS[name][1]}"))
        elif name in ENGINE_OPS:
            rows.append((name, "engine-op", ENGINE_OPS[name]))
        elif name in UNSUPPORTED_NOTES:
            rows.append((name, "unsupported", UNSUPPORTED_NOTES[name]))
        elif spark_builtin(RENAMES.get(name, name)):
            note = f"as `{RENAMES[name]}`" if name in RENAMES else ""
            note = BUILTIN_NOTES.get(name, note)
            rows.append((name, "spark-builtin", note))
        else:
            rows.append((name, "MISSING", ""))
            missing.append(name)

    counts: dict[str, int] = {}
    for _, kind, _ in rows:
        counts[kind] = counts.get(kind, 0) + 1

    with open(os.path.join(REPO, "docs", "FUNCTION_PARITY.md"), "w") as f:
        f.write(
            "# Function parity vs Hive 2.1.1 FunctionRegistry\n\n"
            "Generated by scripts/function_parity.py — every name the reference\n"
            "registers (FunctionRegistry.java:183-520), classified by how this\n"
            "engine provides it.  Regenerate after adding functions; the script\n"
            "exits non-zero if any name is unclassified.\n\n"
        )
        f.write(f"Total registered names: **{len(names)}**.  ")
        f.write(
            "  ".join(f"{k}: **{v}**" for k, v in sorted(counts.items())) + "\n\n"
        )
        f.write("| Hive name | provision | detail |\n|---|---|---|\n")
        for name, kind, note in rows:
            disp = name.replace("|", "\\|")
            f.write(f"| `{disp}` | {kind} | {note} |\n")
    print(f"{len(names)} names: " + ", ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    if missing:
        print("MISSING:", ", ".join(missing))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
