"""The benchmark's workloads.

``warehouse_sql`` and ``corpus_pipeline`` run registry queries; one
operation is ``all_queries()[name](spark, data_dir)`` followed by
``count()``.  ``hiveql_dml`` runs a seeded script of HiveQL statements
through ``HiveEngine.sql`` and ACID transactions through
``operators.acid.AcidTable``; one operation is one statement or one
transaction.  :func:`replay_dml` replays the same script in DuckDB.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

WAREHOUSE_SQL = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q10_broadcast_region_revenue",
    "q116_local_supplier_volume",
    "q129_waiting_orders",
    "q24_count_distinct",
    "q29_grouping_sets",
    "q40_row_number_topk",
    "q79_cte",
    "q103_sessionization",
    "q142_asof_join",
    "q144_time_rollup",
)

CORPUS_PIPELINE = (
    "p01_dedup_exact",
    "p02_dedup_minhash_lsh",
    "p06_ann_bruteforce",
    "p08_text_quality",
    "p14_tfidf",
    "p31_corpus_pipeline",
    "p35_connected_components",
    "p53_heavy_hitters",
)

READ_WORKLOADS = {"warehouse_sql": WAREHOUSE_SQL, "corpus_pipeline": CORPUS_PIPELINE}
WORKLOADS = (*READ_WORKLOADS, "hiveql_dml")


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The order of a read workload's operations in one pass."""
    out = list(ops)
    random.Random(f"{seed}/{pass_no}").shuffle(out)
    return out


def digest(canon_rows: list) -> str:
    return hashlib.sha256(repr(canon_rows).encode()).hexdigest()[:16]


# ------------------------------------------------------------ hiveql_dml

ACID_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
SQL_TABLES = ("pb_orders_part", "pb_by_status", "pb_by_prio")


@dataclass(frozen=True)
class DmlOp:
    name: str
    kind: str  # "sql" | "select" | "acid_create" | "txn" | "acid_read" | "compact" | "clean"
    text: str = ""  # HiveQL text, for "sql" and "select"
    txn: str = ""  # update | delete | merge | conflict, for "txn"


@dataclass(frozen=True)
class DmlPlan:
    """Everything the seed decides in ``hiveql_dml``: the write predicates
    and the order of the four SELECTs.  Every predicate is a residue class,
    so each seed moves the same amount of data."""

    part_mod: int  # INSERT OVERWRITE keeps o_orderkey % 4 == part_mod
    prio_mod: int  # second multi-insert branch keeps o_custkey % 7 == prio_mod
    status: str  # partition the pruned SELECT reads
    sel_mod: int  # pruned IN-list SELECT keeps o_custkey % 5 == sel_mod
    acid_slice: int  # ACID table = orders with o_orderkey % 20 == acid_slice
    upd_mod: int  # UPDATE where o_custkey % 7 == upd_mod
    del_mod: int  # DELETE where o_custkey % 13 == del_mod
    merge_mod: int  # MERGE source keeps o_custkey % 11 == merge_mod
    conflict_mod: int  # the two conflicting txns touch o_custkey % 17 == conflict_mod
    ops: tuple[DmlOp, ...]


def dml_plan(seed: int) -> DmlPlan:
    rng = random.Random(f"dml/{seed}")
    part_mod, prio_mod = rng.randrange(4), rng.randrange(7)
    status, sel_mod = rng.choice("FOP"), rng.randrange(5)
    selects = [
        DmlOp(
            "select_pruned",
            "select",
            "SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total "
            f"FROM pb_orders_part WHERE o_orderstatus = '{status}' GROUP BY o_orderpriority",
        ),
        DmlOp(
            "select_pruned_in",
            "select",
            "SELECT o_orderstatus, COUNT(*) AS n, MAX(o_totalprice) AS top "
            "FROM pb_orders_part WHERE o_orderstatus IN ('F', 'P') "
            f"AND o_custkey % 5 = {sel_mod} GROUP BY o_orderstatus",
        ),
        DmlOp("select_by_status", "select", "SELECT k, n, total FROM pb_by_status"),
        DmlOp("select_by_prio", "select", "SELECT k, n, total FROM pb_by_prio"),
    ]
    rng.shuffle(selects)
    agg = "COUNT(*), ROUND(SUM(o_totalprice), 2)"
    ops = [
        DmlOp(
            "create_part",
            "sql",
            "CREATE TABLE pb_orders_part (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_totalprice DOUBLE, o_orderpriority STRING) "
            "PARTITIONED BY (o_orderstatus STRING) STORED AS PARQUET",
        ),
        DmlOp("create_by_status", "sql", "CREATE TABLE pb_by_status (k STRING, n BIGINT, total DOUBLE) STORED AS PARQUET"),
        DmlOp("create_by_prio", "sql", "CREATE TABLE pb_by_prio (k STRING, n BIGINT, total DOUBLE) STORED AS PARQUET"),
        DmlOp(
            "insert_dynamic_partition",
            "sql",
            "INSERT OVERWRITE TABLE pb_orders_part PARTITION (o_orderstatus) "
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, o_orderstatus "
            f"FROM orders WHERE o_orderkey % 4 = {part_mod}",
        ),
        DmlOp(
            "multi_insert",
            "sql",
            "FROM pb_orders_part "
            f"INSERT OVERWRITE TABLE pb_by_status SELECT o_orderstatus, {agg} GROUP BY o_orderstatus "
            f"INSERT OVERWRITE TABLE pb_by_prio SELECT o_orderpriority, {agg} "
            f"WHERE o_custkey % 7 = {prio_mod} GROUP BY o_orderpriority",
        ),
        *selects,
        DmlOp("acid_create", "acid_create"),
    ]
    # the transactions keep one order: each snapshot read costs more with
    # every delta before it, so a seeded order would change the work
    for kind in ("update", "delete", "merge", "conflict"):
        ops += [DmlOp(f"txn_{kind}", "txn", txn=kind), DmlOp(f"read_after_{kind}", "acid_read")]
    ops += [
        DmlOp("compact_minor", "compact"),
        DmlOp("read_after_minor", "acid_read"),
        DmlOp("compact_major", "compact"),
        DmlOp("read_after_major", "acid_read"),
        DmlOp("clean", "clean"),
        *(DmlOp(f"drop_{t}", "sql", f"DROP TABLE {t}") for t in SQL_TABLES),
    ]
    return DmlPlan(
        part_mod, prio_mod, status, sel_mod,
        acid_slice=rng.randrange(20), upd_mod=rng.randrange(7), del_mod=rng.randrange(13),
        merge_mod=rng.randrange(11), conflict_mod=rng.randrange(17), ops=tuple(ops),
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


class DmlRunner:
    """Runs one ``hiveql_dml`` operation at a time against Spark.

    ``run`` hands the DataFrame of an operation that reads to ``count`` and
    returns what that returns; it returns ``None`` for the others.  ``tr``
    is the tracer of the current pass."""

    def __init__(self, spark, engine, plan: DmlPlan, acid_root: str):
        from pyspark.sql import functions as F

        from tracing import NullTracer

        self.spark, self.engine, self.plan, self.tr = spark, engine, plan, NullTracer()
        self.acid_root = acid_root
        self.table = None
        self.F = F

    def _orders(self):
        return self.spark.table("orders").select(*ACID_COLS)

    def _write(self, span: str, fn) -> None:
        before = dir_bytes(self.acid_root) if self.tr.enabled else 0
        with self.tr.span(span):
            fn()
        if self.tr.enabled:
            self.tr.add("acid.bytes_written", max(0, dir_bytes(self.acid_root) - before))

    def run(self, op: DmlOp, count):
        from apache_hive_2_1_1_src_spark.operators.acid import AcidTable, WriteConflictError

        F, p = self.F, self.plan
        if op.kind in ("sql", "select"):
            with self.tr.span("session.sql"):
                df = self.engine.sql(op.text)
            self.tr.add("session.sql_calls", 1)
            return count(df) if op.kind == "select" else None
        if op.kind == "acid_create":
            src = self._orders().filter(F.col("o_orderkey") % 20 == p.acid_slice)

            def create():
                self.table = AcidTable.create(self.spark, self.acid_root, src, "o_orderkey")

            self._write("operators.acid.create", create)
            return None
        if op.kind == "acid_read":
            if self.tr.enabled:
                self.tr.add("acid.delta_dirs_read", len(self.table.snapshot().deltas))
            with self.tr.span("operators.acid.read"):
                return count(self.table.read())
        if op.kind == "compact":
            fn = self.table.compact_minor if op.name == "compact_minor" else self.table.compact_major
            self._write("operators.acid.compact", fn)
            return None
        if op.kind == "clean":
            with self.tr.span("operators.acid.clean"):
                self.table.clean()
            return None
        if op.txn == "conflict":
            # two writers pinned to one snapshot touch the same keys; the
            # second commit must fail the write-set check
            cond = F.col("o_custkey") % 17 == p.conflict_mod

            def conflict():
                first, second = self.table.begin(), self.table.begin()
                first.update(cond, {"o_orderpriority": F.lit("9-CONFLICT")})
                second.delete(cond)
                first.commit()
                try:
                    second.commit()
                except WriteConflictError:
                    self.tr.add("acid.conflicts", 1)
                    return
                raise RuntimeError("overlapping commit was not rejected")

            self._write("operators.acid.commit", conflict)
            self.tr.add("acid.commits", 1)
            return None

        def txn():
            tx = self.table.begin()
            if op.txn == "update":
                tx.update(
                    F.col("o_custkey") % 7 == p.upd_mod,
                    {"o_orderstatus": F.lit("U"), "o_totalprice": F.col("o_totalprice") + 100.0},
                )
            elif op.txn == "delete":
                tx.delete(F.col("o_custkey") % 13 == p.del_mod)
            else:
                keys = F.col("o_orderkey") % 20
                src = self._orders().filter(
                    ((keys == p.acid_slice) | (keys == (p.acid_slice + 1) % 20))
                    & (F.col("o_custkey") % 11 == p.merge_mod)
                )
                tx.merge(
                    src,
                    when_matched_update={
                        "o_totalprice": F.col("src_o_totalprice") + 1.0,
                        "o_orderpriority": F.lit("0-MERGED"),
                    },
                )
            tx.commit()

        self._write("operators.acid.commit", txn)
        self.tr.add("acid.commits", 1)
        return None

    def stored_bytes(self, warehouse_dir: str) -> int:
        return dir_bytes(self.acid_root) + sum(
            dir_bytes(os.path.join(warehouse_dir, t)) for t in SQL_TABLES
        )

    def drop_all(self) -> None:
        """Leave no table behind after a failed pass."""
        for t in SQL_TABLES:
            self.engine.sql(f"DROP TABLE IF EXISTS {t}")


def replay_dml(data_dir: str, plan: DmlPlan) -> dict[str, list]:
    """Replay ``plan`` in DuckDB over the same parquet files; returns the
    canonical rows of every operation that reads."""
    import duckdb

    from oracle import canon

    p = plan
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{os.path.join(data_dir, 'orders.parquet')}'")
    cols = ", ".join(ACID_COLS)
    agg = "COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total"
    out: dict[str, list] = {}
    for op in p.ops:
        if op.name == "insert_dynamic_partition":
            con.execute(f"CREATE TABLE pb_orders_part AS SELECT {cols} FROM orders WHERE o_orderkey % 4 = {p.part_mod}")
        elif op.name == "multi_insert":
            con.execute(f"CREATE TABLE pb_by_status AS SELECT o_orderstatus AS k, {agg} FROM pb_orders_part GROUP BY 1")
            con.execute(
                f"CREATE TABLE pb_by_prio AS SELECT o_orderpriority AS k, {agg} FROM pb_orders_part "
                f"WHERE o_custkey % 7 = {p.prio_mod} GROUP BY 1"
            )
        elif op.kind in ("select", "acid_read"):
            rel = con.execute(op.text or "SELECT * FROM acid")
            names = [d[0].lower() for d in rel.description]
            out[op.name] = [list(r) for r in canon(rel.fetchall(), names)]
        elif op.kind == "acid_create":
            con.execute(f"CREATE TABLE acid AS SELECT {cols} FROM orders WHERE o_orderkey % 20 = {p.acid_slice}")
        elif op.txn == "update":
            con.execute(
                "UPDATE acid SET o_orderstatus = 'U', o_totalprice = o_totalprice + 100.0 "
                f"WHERE o_custkey % 7 = {p.upd_mod}"
            )
        elif op.txn == "delete":
            con.execute(f"DELETE FROM acid WHERE o_custkey % 13 = {p.del_mod}")
        elif op.txn == "conflict":  # only the first writer commits
            con.execute(f"UPDATE acid SET o_orderpriority = '9-CONFLICT' WHERE o_custkey % 17 = {p.conflict_mod}")
        elif op.txn == "merge":
            con.execute(
                f"CREATE TEMP TABLE src AS SELECT {cols} FROM orders "
                f"WHERE o_orderkey % 20 IN ({p.acid_slice}, {(p.acid_slice + 1) % 20}) "
                f"AND o_custkey % 11 = {p.merge_mod}"
            )
            con.execute(
                "CREATE TEMP TABLE unmatched AS SELECT * FROM src "
                "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM acid)"
            )
            con.execute(
                "UPDATE acid SET o_totalprice = src.o_totalprice + 1.0, o_orderpriority = '0-MERGED' "
                "FROM src WHERE acid.o_orderkey = src.o_orderkey"
            )
            con.execute("INSERT INTO acid SELECT * FROM unmatched")
            con.execute("DROP TABLE src; DROP TABLE unmatched")
    con.close()
    return out
