#!/usr/bin/env python
"""Hit report for ``HiveEngine.sql``'s rule table.

Runs the tier-1 suite in this process (``pytest.main`` over ``tests/``,
so ``tests/golden/`` is included), then the ``sql``/``select``
statements of one ``perfbench`` ``hiveql_dml`` plan, and writes how
often each rule, error retry and post-write hook fired
(``rules.HITS``) to a JSON report.

Usage: python scripts/rule_hits.py [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

NOTE = (
    "Hits of HiveEngine.sql's rule table, counted in one process over the "
    "tier-1 suite (pytest.main over tests/, golden corpus included) and the "
    "sql/select statements of one perfbench hiveql_dml plan. A rule fires "
    "when it answers the statement or changes its text, a retry when it "
    "answers, a hook when it acts; a rule that only records state "
    "(note_nano_insert_select, drop_database_temp_tables, drop_table_record) "
    "never fires. Statements that tests run in a subprocess are not seen. "
    "Regenerate with: python scripts/rule_hits.py"
)
#: the hiveql_dml plan whose statements follow the suite
SEED = 1


def run_dml_plan(seed: int) -> None:
    import workloads as wl

    from apache_hive_2_1_1_src_spark.session import HiveEngine, build_session

    data_dir = os.path.join(ROOT, "perfbench", "data", "sf0.001")
    spark = build_session(app_name="rule-hits", shuffle_partitions=8)
    for t in wl.SQL_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    engine = HiveEngine(spark, data_dir)
    engine.register_tables(data_dir)
    for op in wl.dml_plan(seed).ops:
        if op.kind in ("sql", "select"):
            df = engine.sql(op.text)
            if op.kind == "select":
                df.count()


def report(exit_code: int) -> dict:
    from apache_hive_2_1_1_src_spark import rules
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    def rows(names):
        return [{"name": n, "hits": rules.HITS[n]} for n in names]

    table = [
        {"name": n, "kind": kind, "hits": rules.HITS[n]}
        for n, kind, _fn in HiveEngine._RULES
    ]
    retries = rows(rules.name(f) for f in HiveEngine._RETRIES)
    hooks = rows(rules.name(f) for f in HiveEngine._HOOKS)
    return {
        "note": NOTE,
        "tier1_exit_code": exit_code,
        "dml_plan_seed": SEED,
        "rules": table,
        "retries": retries,
        "hooks": hooks,
        "zero_hit": [r["name"] for r in table + retries + hooks if not r["hits"]],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=os.path.join(ROOT, "docs", "rule_hits.json"))
    args = ap.parse_args()
    os.chdir(ROOT)
    exit_code = int(
        pytest.main(
            ["tests/", "-q", "--continue-on-collection-errors", "-p", "no:cacheprovider"]
        )
    )
    run_dml_plan(SEED)
    doc = report(exit_code)
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    print(
        f"{len(doc['rules'])} rules, {len(doc['retries'])} retries, "
        f"{len(doc['hooks'])} hooks; {len(doc['zero_hit'])} zero-hit -> {args.out}"
    )
    return exit_code


if __name__ == "__main__":
    sys.exit(main())
